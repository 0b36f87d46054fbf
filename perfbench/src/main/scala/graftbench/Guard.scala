package graftbench

/** Refuses a run in which a behaviour switch of the program is set.
  *
  * The program reads these switches itself (the MSTR join plan's salt
  * and profiling levers, the dedup scale profiler, the `Par.spread`
  * kill-switch); with any of them set, the benchmark would measure a
  * different program than the one users run.
  */
object Guard {
  val EnvSwitches: Seq[String] =
    Seq("GRAFT_JOIN_NOSALT", "GRAFT_JOIN_STATIC_HOT", "GRAFT_JOIN_PROF", "GRAFT_SCALE_PROF")
  val PropSwitches: Seq[String] = Seq("graft.par.off")

  /** The switches set in `env`/`props`, as `NAME=value` strings. */
  def violations(env: collection.Map[String, String],
                 props: collection.Map[String, String]): Seq[String] =
    EnvSwitches.flatMap(k => env.get(k).map(v => s"$k=$v")) ++
      PropSwitches.flatMap(k => props.get(k).map(v => s"-D$k=$v"))
}
