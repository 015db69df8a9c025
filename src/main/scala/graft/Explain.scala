package graft

/** Plan-inspection utility: prints the formatted physical plan of
  * selected queries (all of them with no args). Used to check
  * pushdown/pruning/broadcast/codegen expectations hold — see
  * PLANS.md for the reviewed findings. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val wanted = SparkEntry.select(args.toSeq)
    // the bench's session posture, so dumped plans match the measured ones
    val spark = graft.core.SessionTune.session(4, Some(sfDir), "ERROR")
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(q => wanted.contains(q._1))
      .foreach { case (name, fn) =>
        println(s"\n========== $name ==========")
        // per-entry cache scope, as in Verify: without it, an earlier
        // entry's still-registered cache (whose CAPTURED plan carries
        // its own parquet lineage) substitutes into later entries'
        // plans and inflates their scan counts — the sweep must show
        // each entry's OWN plan (PLANS.md pinned-method caveat)
        try graft.core.CacheScope.withScope {
          fn(spark, sfDir).explain("formatted")
        }
        catch { case e: Throwable => println(s"explain failed: $e") }
      }
    spark.stop()
  }
}
