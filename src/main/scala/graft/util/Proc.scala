package graft.util

/** OS process helpers. */
object Proc {

  /** Kill `p` and every process it started. The descendants are listed
    * before `p` dies: afterwards they are re-parented and out of reach.
    */
  def killTree(p: ProcessHandle): Unit = {
    val kids = p.descendants().toArray(n => new Array[ProcessHandle](n))
    p.destroyForcibly()
    kids.foreach(_.destroyForcibly())
  }
}
