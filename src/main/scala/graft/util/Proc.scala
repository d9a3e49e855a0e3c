package graft.util

/** OS process helpers. */
object Proc {

  /** `cmd`, set up to start as the leader of a process group of its
    * own (`setsid` execs in place, so the pid is kept): whatever it forks
    * joins that group, and [[killTree]] signals the group at once.
    */
  def groupLeader(cmd: Seq[String]): ProcessBuilder = new ProcessBuilder(("setsid" +: cmd): _*)

  /** Kill `p` and every process it started, leaving none behind. `p` (and
    * its group, when it leads one) is stopped first, so it forks nothing
    * while its descendants are listed; then `p`, each descendant, and the
    * group each of them leads are killed. A group is signalled atomically:
    * a child its leader forks at the last moment dies with it.
    */
  def killTree(p: ProcessHandle): Unit = {
    signal("STOP", Seq(p))
    val all = p +: p.descendants().toArray(n => new Array[ProcessHandle](n)).toSeq
    signal("KILL", all)
    all.foreach(_.destroyForcibly())
  }

  /** Send `sig` to each process and to the group it leads, in one `kill`
    * call (a target that is gone or leads no group is skipped).
    */
  private def signal(sig: String, ps: Seq[ProcessHandle]): Unit =
    try {
      val targets = ps.flatMap(h => Seq(h.pid.toString, s"-${h.pid}"))
      new ProcessBuilder(Seq("kill", "-s", sig, "--") ++ targets: _*)
        .redirectOutput(ProcessBuilder.Redirect.DISCARD)
        .redirectError(ProcessBuilder.Redirect.DISCARD)
        .start().waitFor()
    } catch { case _: Exception => () }
}
