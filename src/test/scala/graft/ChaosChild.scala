package graft

/** Test-only child process for BenchHarnessSpec. Modes:
  *  - `ok`, `noise-then-ok`: a well-formed benchmark block (one JSON line);
  *  - `halt`: dies without printing — `halt` skips shutdown hooks, the
  *    closest in-test stand-in for the OOM killer's SIGKILL;
  *  - `hang`: starts a grandchild (`sleep 313`) and never finishes — a
  *    wedged block;
  *  - `parent <detail>`: a bench parent on the real record and assembly
  *    that lands the sweep block, then sleeps until it is killed.
  */
object ChaosChild {
  def main(args: Array[String]): Unit = args.headOption match {
    case Some("ok") =>
      println("""{"turns_per_sec":1234.5,"p99_latency_ms":42}""")
    case Some("noise-then-ok") =>
      println("WARN some log line")
      println("""{"turns_per_sec":99.0}""")
    case Some("hang") =>
      new ProcessBuilder("sleep", "313").start()
      Thread.sleep(Long.MaxValue)
    case Some("parent") =>
      val p = Bench.Params("/x", cpus = 4, heapMB = 2048, detailPath = args(1))
      val rec = new tools.BenchRecord(p.detailPath, p.blocks)(Bench.assemble(_, p))
      rec.printOnExit()
      rec.record("sweep", tools.BenchRecord.parse(
        """{"n_queries":2,"failed_queries":0,"total_query_sec":3.5,"queries":{}}"""))
      Thread.sleep(Long.MaxValue)
    case _ =>
      System.err.println("[chaos-child] dying without output")
      Runtime.getRuntime.halt(137)
  }
}
