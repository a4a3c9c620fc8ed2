package graft

/** Task slots for a harness main's `local[n]` master and shuffle width:
  * `SPARK_GRAFT_CPUS` when set, else this host's core count, so every
  * main runs the same posture unless told otherwise. */
object LocalCpus {
  def apply(): String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)
}
