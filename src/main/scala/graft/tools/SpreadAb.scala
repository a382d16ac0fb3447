package graft.tools

/** Dev A/B: scan-spread ON vs OFF — [[ConfAb]] with the key fixed to
  * [[graft.io.Tables.ScanSpreadKey]] (off=false, on=true).
  * Usage: SpreadAb <sfDir> <q1,q2,...> [pairs=3]; SPARK_GRAFT_CPUS sets
  * the core count. */
object SpreadAb {
  def main(args: Array[String]): Unit =
    ConfAb.main(Array(
      args.headOption.getOrElse("/root/testdata/sf0.1"),
      args.lift(1).getOrElse("q1_pricing_summary"),
      graft.io.Tables.ScanSpreadKey, "false", "true",
      args.lift(2).getOrElse("3")))
}
