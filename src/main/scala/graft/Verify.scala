package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Optional
  * trailing args restrict the run (and the oracle dump) to the named
  * queries — for locally re-gating a single new entry. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val wanted = SparkEntry.select(args.toSeq.drop(2))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // the bench's session posture (graft.core.SessionTune)
    val spark = graft.core.SessionTune.session(cpus.toInt, Some(sfDir))
    // SPARK_GRAFT_STATESTORE=rocksdb re-gates the stateful entries
    // under the off-heap provider (the 100 TB posture) — the oracle
    // compare must be provider-independent (PLANS.md "Round 14:
    // stateful family re-gated under RocksDB")
    if (sys.env.getOrElse("SPARK_GRAFT_STATESTORE", "hdfs") == "rocksdb")
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    new java.io.File(outDir).mkdirs()
    // self-evidencing run metadata: a genuine re-run is
    // distinguishable from a copied artifact by its timestamps and
    // per-query wall seconds (written alongside the dumps as
    // verify_meta.json)
    val runStartMs = System.currentTimeMillis()
    val wallS = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val failed = scala.collection.mutable.ListBuffer.empty[String]
    SparkEntry.queries.view.filterKeys(wanted).foreach { case (name, fn) =>
      // per-entry cache scope: operator-internal caches (registered
      // via CacheScope) release once the dump completes, so a full
      // Verify pass holds at most one entry's caches at a time
      val t0 = System.nanoTime()
      try graft.core.CacheScope.withScope {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        failed += name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      wallS(name) = (System.nanoTime() - t0) / 1e9
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.view.filterKeys(wanted)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val runEndMs = System.currentTimeMillis()
    val meta = s"""{"run_ts": "${java.time.Instant.ofEpochMilli(runStartMs)}",
      |"run_end_ts": "${java.time.Instant.ofEpochMilli(runEndMs)}",
      |"wall_s_total": ${(runEndMs - runStartMs) / 1e3},
      |"sf_dir": ${q(sfDir)},
      |"n_queries": ${wallS.size},
      |"failed": ${failed.map(q).mkString("[", ",", "]")},
      |"wall_s": ${wallS.map { case (k, v) => s"${q(k)}: $v" }
        .mkString("{", ",", "}")}}""".stripMargin.replace("\n", " ")
    Files.writeString(Paths.get(s"$outDir/verify_meta.json"), meta)
    spark.stop()
  }
}
