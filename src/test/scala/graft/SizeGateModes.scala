package graft

/** Runs a thunk under each `spark.graft.sizegate.mode` on the shared
  * test session: `auto` takes a gate's single-task twin wherever the
  * input fits, `distributed` every gate's distributed plan. The session
  * conf is restored afterwards. The thunk must force its result
  * (collect), since a lazy frame could run after the conf is
  * restored. */
object SizeGateModes {
  val modes: Seq[String] = Seq("auto", "distributed")

  def under[T](mode: String)(f: => T): T = {
    val conf = TestSpark.spark.conf
    val prev = conf.getOption(SizeGate.ModeKey)
    conf.set(SizeGate.ModeKey, mode)
    try f
    finally prev match {
      case Some(v) => conf.set(SizeGate.ModeKey, v)
      case None    => conf.unset(SizeGate.ModeKey)
    }
  }

  /** `f` under `auto` and under `distributed`, in that order. */
  def both[T](f: => T): (T, T) = (under("auto")(f), under("distributed")(f))
}
