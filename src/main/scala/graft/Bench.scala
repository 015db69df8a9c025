package graft

/** Throughput bench: each query timed SPARK_GRAFT_BENCH_RUNS times
  * (default 3) and reported at its MINIMUM — this box's load swings
  * single-run timings 3-10x (PLANS.md), so the min is the only number
  * stable enough for round-over-round comparison. Total = sum of
  * per-query minima. Optional args restrict the run to the named
  * queries (for re-checking a single outlier).
  *
  * Adjudication pass: sweep readings have repeatedly shown 2-17x
  * inflation from box interference (rounds 3 and 4 each needed manual
  * isolated re-runs to tell noise from regression). So after the
  * sweep, any query whose min exceeds 2x its recorded floor is
  * re-timed in a quiet tail pass — nothing else interleaved — and the
  * JSON carries BOTH readings per re-run query plus the floor, so a
  * regression call never needs a manual re-run: `isolated` ~ floor
  * means interference; `isolated` >> floor means a real plan change.
  * The headline per-query value is min(sweep, isolated).
  *
  * The isolated pass itself retries: a single isolated reading taken
  * on a loaded box has poisoned two artifacts (round-5 recorded
  * 21.3 s for a 0.9 s query), so if an isolated attempt still exceeds
  * 2x floor it re-runs up to SPARK_GRAFT_ISOLATED_ATTEMPTS (default 3)
  * total attempts and keeps the min — a quiet reading ends the loop
  * early, and the attempt count is recorded.
  *
  * Floors live in a persisted artifact, not source constants:
  * `bench_floors.json` (override: SPARK_GRAFT_FLOORS), keyed by the
  * scale-factor directory basename, updated to min-observed after
  * every run — so the record tightens itself and a new query earns a
  * floor on its first sweep. Floors from one box transfer to a slower
  * one via SPARK_GRAFT_FLOOR_SCALE (multiplier, default 1); with no
  * floor map for the current scale factor the adjudication pass is
  * skipped entirely (there is nothing sound to adjudicate against —
  * this also keeps sf0.001 smoke runs from re-running half the sweep
  * against sf0.1 floors). SPARK_GRAFT_ADJUDICATE=off opts out.
  *
  * `--reset=q_a,q_b` (with named filters): drop ONLY the named
  * entries' floors for this scale factor before the run — for
  * entries whose SEMANTICS changed, where the old minimum measures
  * work the entry no longer does. This run's readings re-seed them;
  * every other floor is untouched.
  *
  * `--rebaseline`: floors are all-time minima across heterogeneous
  * load windows, so over months they drift unreachably tight and the
  * adjudicator starts crying wolf on every fixed-cost entry. The
  * rebaseline mode takes a fresh quiet min-of-5 over the FULL suite
  * (named filters are refused — a partial rebaseline would silently
  * drop every other query's floor), archives the previous floor file
  * next to itself with today's date, and REPLACES the current scale
  * factor's map with this sweep's readings (stale names disappear,
  * per-query old→new ratios print to stderr for provenance).
  * Adjudication is off during the run — the floors being replaced
  * are exactly the ones that can no longer be trusted; the sweep's
  * own min-of-5 is the noise control. Take it in a quiet window: the
  * current 1-minute load average prints first and warns above
  * cpus/4.
  */
object Bench {

  /** Anything without a recorded floor has always swept under this. */
  val DefaultFloor = 0.5

  /** Evaluate a query's FULL result through Spark's noop sink.
    * `count()` is not an honest drain: Catalyst prunes everything the
    * count doesn't need — for the overlap entries it eliminated the
    * whole ratio left-join (unique agg keys preserve row count), so
    * the bench timed an empty plan. The noop sink materializes every
    * row of the projection without writing bytes. */
  def drain(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Min over isolated attempts, stopping early once a reading lands
    * within 2x floor (= interference ruled out). Returns
    * (min reading, attempts used). */
  def retryIsolated(run: () => Double, floor: Double,
      maxAttempts: Int): (Double, Int) = {
    var best = Double.MaxValue
    var n = 0
    while (n < maxAttempts && best > 2 * floor) {
      best = math.min(best, run())
      n += 1
    }
    (best, n)
  }

  /** Floors tighten monotonically: min of the recorded floor and the
    * new observation; queries without a recorded floor enter at their
    * observed value. */
  def mergeFloors(old: Map[String, Double],
      observed: Map[String, Double]): Map[String, Double] =
    observed.foldLeft(old) { case (acc, (k, v)) =>
      acc.updated(k, math.min(acc.getOrElse(k, v), v))
    }

  import com.fasterxml.jackson.databind.ObjectMapper

  /** {"sf0.1": {"q_x": 1.6, ...}, ...} */
  def parseFloors(json: String): Map[String, Map[String, Double]] = {
    val n = new ObjectMapper().readTree(json)
    val out = scala.collection.mutable.Map.empty[String, Map[String, Double]]
    n.fields().forEachRemaining { e =>
      val inner = scala.collection.mutable.Map.empty[String, Double]
      e.getValue.fields().forEachRemaining { q =>
        inner += q.getKey -> q.getValue.asDouble()
      }
      out += e.getKey -> inner.toMap
    }
    out.toMap
  }

  def renderFloors(floors: Map[String, Map[String, Double]]): String =
    floors.toSeq.sortBy(_._1).map { case (sf, m) =>
      val inner = m.toSeq.sortBy(_._1)
        .map { case (q, v) => s"""    "$q": $v""" }.mkString(",\n")
      s"""  "$sf": {\n$inner\n  }"""
    }.mkString("{\n", ",\n", "\n}\n")

  def main(args: Array[String]): Unit = {
    val (flags, filters) = args.partition(_.startsWith("--"))
    val unknownFlags = flags
      .filterNot(f => f == "--rebaseline" || f.startsWith("--reset="))
    require(unknownFlags.isEmpty,
      s"unknown flag(s): ${unknownFlags.mkString(", ")} — " +
        "supported: --rebaseline, --reset=q_a,q_b")
    val rebaseline = flags.contains("--rebaseline")
    require(!rebaseline || filters.isEmpty,
      "--rebaseline runs the FULL suite: a filtered rebaseline would " +
        "silently drop every unnamed query's floor")
    // --reset=q_a,q_b: drop ONLY the named entries' floors for this
    // scale factor before the run, so this run's readings re-seed
    // them. For entries whose SEMANTICS changed (they now do strictly
    // more — or less — work), the all-time minimum of the old
    // semantics is not a valid floor; a full --rebaseline would
    // needlessly soften every other entry's record. The named entries
    // must be part of this run's sweep, or their floor would vanish
    // without a reading to replace it.
    val resetNames: Set[String] = flags.filter(_.startsWith("--reset="))
      .flatMap(_.stripPrefix("--reset=").split(",").map(_.trim)
        .filter(_.nonEmpty)).toSet
    require(resetNames.isEmpty || !rebaseline,
      "--reset is redundant under --rebaseline (which replaces the map)")
    require(resetNames.isEmpty || filters.nonEmpty,
      "--reset requires naming the swept queries explicitly")
    require(resetNames.subsetOf(filters.toSet),
      s"--reset names not in this sweep: ${
        (resetNames -- filters.toSet).mkString(", ")}")
    // positional args restrict the sweep to named queries
    val wanted = SparkEntry.select(filters.toSeq)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val nRuns = sys.env.get("SPARK_GRAFT_BENCH_RUNS").map(_.toInt)
      .getOrElse(if (rebaseline) 5 else 3)
    val floorsPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_FLOORS", "bench_floors.json"))
    val floorScale = sys.env.getOrElse("SPARK_GRAFT_FLOOR_SCALE", "1").toDouble
    val maxAttempts =
      sys.env.getOrElse("SPARK_GRAFT_ISOLATED_ATTEMPTS", "3").toInt
    val adjudicateOn =
      sys.env.getOrElse("SPARK_GRAFT_ADJUDICATE", "on") != "off" &&
        !rebaseline
    val sfKey = java.nio.file.Paths.get(sfDir).getFileName.toString
    if (rebaseline) {
      val load = try java.nio.file.Files
        .readString(java.nio.file.Paths.get("/proc/loadavg"))
        .split(" ")(0).toDouble
      catch { case _: Exception => -1.0 }
      System.err.println(f"[bench] rebaseline for '$sfKey': min-of-$nRuns, " +
        f"1-min load $load%.2f" + (
          if (load > cpus.toInt / 4.0)
            s" — WARNING: loaded box (> ${cpus.toInt / 4.0}), the " +
              "re-based floors will be soft; prefer a quiet window"
          else ""))
    }

    val allFloors: Map[String, Map[String, Double]] =
      if (java.nio.file.Files.exists(floorsPath))
        parseFloors(java.nio.file.Files.readString(floorsPath))
      else Map.empty
    if (resetNames.nonEmpty)
      System.err.println(s"[bench] floor reset for '$sfKey': " +
        resetNames.toSeq.sorted.mkString(", ") +
        " (semantics changed; this run's readings re-seed)")
    val floorsForSf: Option[Map[String, Double]] =
      allFloors.get(sfKey).map(_ -- resetNames)
    def floorOf(name: String): Double =
      floorsForSf.fold(DefaultFloor)(
        _.getOrElse(name, DefaultFloor)) * floorScale

    // the library session posture (defaults + shuffle partitions
    // derived from the bytes under sfDir, not the core count) — the
    // same one a user session gets from graft.core.SessionTune
    val spark = graft.core.SessionTune.session(cpus.toInt, Some(sfDir))
    val errors = scala.collection.mutable.ListBuffer.empty[String]

    def timeQuery(name: String, runs: Int): Double =
      (0 until runs).map { _ =>
        val t0 = System.nanoTime()
        try graft.core.CacheScope.withScope {
          drain(SparkEntry.queries(name)(spark, sfDir))
        } catch {
          case e: Throwable =>
            if (!errors.contains(name)) errors += name
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
        }
        // belt-and-braces on top of the per-run CacheScope: drop
        // anything an operator cached OUTSIDE the scope contract so
        // each run is cold
        spark.catalog.clearCache()
        (System.nanoTime() - t0) / 1e9
      }.min

    val sweep = SparkEntry.queries.keys.filter(wanted).map { name =>
      name -> timeQuery(name, nRuns)
    }.toMap

    // quiet-tail adjudication of sweep outliers (only when this sf
    // has a recorded floor map to adjudicate against)
    val suspects =
      if (!adjudicateOn || floorsForSf.isEmpty) Seq.empty[String]
      else sweep.filter { case (name, t) =>
        t > 2 * floorOf(name) && !errors.contains(name)
      }.keys.toSeq.sorted
    val isolated = suspects.map { name =>
      System.err.println(s"[bench] re-running sweep outlier $name isolated")
      name -> retryIsolated(() => timeQuery(name, nRuns), floorOf(name),
        maxAttempts)
    }.toMap

    val results = sweep.map { case (name, t) =>
      name -> math.min(t, isolated.get(name).map(_._1).getOrElse(t))
    }
    def jmap(m: Map[String, Double]): String =
      m.toSeq.sortBy(_._1).map { case (k, v) => s"\"" + k + "\":" + v }
        .mkString("{", ",", "}")
    val adjudicated = suspects.map { name =>
      val (iso, att) = isolated(name)
      s""""$name":{"sweep":${sweep(name)},"isolated":$iso,"attempts":$att,"floor":${floorOf(name)}}"""
    }.mkString("{", ",", "}")
    val errJson = errors.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val rebaseJson = if (rebaseline) ""","rebaseline":true""" else ""
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":${jmap(results)},"adjudicated":$adjudicated,"runs_per_query":$nRuns,"errors":$errJson$rebaseJson,"sf":"$sfDir"}""")

    // persist floors (errored queries excluded — a failed run's
    // wall-clock is not a throughput floor): normally min-merged;
    // under --rebaseline the sf's map is REPLACED and the previous
    // file archived with today's date
    if (floorScale == 1.0) try {
      val clean = results.filter { case (n, _) => !errors.contains(n) }
      val next =
        if (rebaseline) {
          if (java.nio.file.Files.exists(floorsPath)) {
            val archive = floorsPath.resolveSibling(
              floorsPath.getFileName.toString.stripSuffix(".json") +
                s".archived-${java.time.LocalDate.now()}.json")
            java.nio.file.Files.copy(floorsPath, archive,
              java.nio.file.StandardCopyOption.REPLACE_EXISTING)
            System.err.println(s"[bench] previous floors archived to $archive")
          }
          // a query that ERRORED during this run keeps its previous
          // floor (a transient failure must not permanently lose the
          // floor and let a later slow reading re-seed it); only a
          // query absent from the suite is genuinely dropped
          val retained = allFloors.getOrElse(sfKey, Map.empty)
            .filter { case (q, _) => errors.contains(q) }
          allFloors.getOrElse(sfKey, Map.empty).toSeq.sortBy(_._1)
            .foreach { case (q, old) =>
              clean.get(q) match {
                case Some(now) => System.err.println(
                  f"[bench] rebase $q: $old%.4f -> $now%.4f (${now / old}%.2fx)")
                case None if errors.contains(q) => System.err.println(
                  f"[bench] rebase $q: ERRORED this run - previous floor $old%.4f retained")
                case None => System.err.println(
                  s"[bench] rebase $q: dropped (no longer in the suite)")
              }
            }
          allFloors.updated(sfKey, clean ++ retained)
        } else {
          // a --reset name that ERRORED this run has no clean reading
          // to re-seed with — dropping its old floor anyway would make
          // the floor silently vanish from the map; retain it and warn
          val resettable = resetNames.filter { q =>
            val ok = clean.contains(q)
            if (!ok) System.err.println(
              s"[bench] reset $q: errored this run - previous floor retained")
            ok
          }
          allFloors.updated(sfKey,
            mergeFloors(allFloors.getOrElse(sfKey, Map.empty) -- resettable,
              clean))
        }
      java.nio.file.Files.writeString(floorsPath, renderFloors(next))
    } catch {
      case e: Exception =>
        System.err.println(s"[bench] floors not persisted: ${e.getMessage}")
    }
    spark.stop()
  }
}
