package graft

/** Repeatable scale-regression harness (VERDICT r4 ask #8): runs EVERY
  * SparkEntry query at a base scale and a ~10× stress scale and asserts
  * the measured scaling contract — median big/base wall-clock ratio
  * ≤ `bound` (default 10 — i.e. at-most-linear in the median for 10×
  * data). Exits nonzero on breach, so CI/driver runs can't silently
  * regress the scaling behavior SCALE.md documents.
  *
  * Usage: runMain graft.ScaleCheck <baseDir> <bigDir> [bound] [perQueryBound] [names]
  * (one command via tools/scale_check.sh, which also generates the
  * stress data if missing). The run fails when the MEDIAN breaches
  * `bound` (default 10) OR when any single query breaches
  * `perQueryBound` (default 12 — looser than the median bound so one
  * noisy outlier doesn't flap the gate, but a genuinely superlinear
  * query still fails the run instead of just printing CHECK-OVER).
  *
  * Method: per query, run once warm (codegen compile + page cache) then
  * once measured through [[Measure]], at each scale, interleaved
  * base→big so JVM state is comparable. Each row also carries the big
  * side's max task peak execution memory, spill and parallelism. Pinned-
  * geometry oracle baselines are skipped past their design size via
  * [[PinnedBaselines]] (their scale-safe replacements are measured
  * instead). Measured base times are floored at 50 ms in the ratio
  * denominator — below that, local-mode scheduler noise dominates and a
  * ratio would measure jitter, not the plan.
  */
object ScaleCheck {
  /** Queries measured against constant-DENSITY stress data
    * (`SPARK_GRAFT_DENSE_DIR`, tools/make_sfdense.py) instead of the
    * near-verbatim-replica dir: their TRUE answer grows ~quadratically
    * in make_sf1's replicas (every replica pair is a real near-dup), so
    * the standard stress dir measures the data artifact, not the
    * operator (r10 verdict adjudication; SCALE.md "constant-density"
    * note). The artifact row carries "big_dir":"dense". */
  val constantDensityQueries: Set[String] = Set("dd_setsim_join")

  /** Queries PINNED-EXPECTED at the linear line (r12 verdict #1 "what's
    * wrong #2" adjudication): their true work is exactly proportional to
    * the stress generator's data — the measured ratio sits AT the
    * informational at-most-linear `bound` with ±20% host noise around
    * it, which is the honest answer, not a regression. They carry an
    * in-row "note" naming the derivation (SCALE.md) and the production
    * serve path, and are excluded from the informational `over_bound`
    * count; the HARD `perQueryBound` (the fail gate) still applies to
    * them unchanged.
    *
    * dd_span_dedup: the raw span-candidate build normalizes and hashes
    * every sentence span of every document — work ∝ corpus bytes by
    * construction, and make_sf1's 100 shifted replicas carry 100× the
    * span mass (SCALE.md "span dedup at 100×" derivation). r12 measured
    * median-of-3 = 100.15× against bound 100. Production serves
    * dd_span_dedup_persisted (22.3× at 100×: the span index is built
    * once at ingest); the raw op is that index's build step. */
  val expectedLinearQueries: Map[String, String] = Map(
    // ASCII only: the note lands verbatim in a JSON artifact via forked
    // stdout, whose default encoding mangles non-ASCII to '?'
    "dd_span_dedup" -> ("linear-by-construction: span normalize+hash is " +
      "one pass over corpus bytes and the generator replicates span mass " +
      "100x (SCALE.md derivation); production serves " +
      "dd_span_dedup_persisted - the raw op is the index build step"))

  def main(args: Array[String]): Unit = {
    val baseDir = args(0)
    val bigDir = args(1)
    val bound = if (args.length > 2) args(2).toDouble else 10.0
    val perQueryBound = if (args.length > 3) args(3).toDouble else 12.0
    // optional comma-list restricting the sweep (the --sf10 headline
    // mode); default = every registered query
    val only = if (args.length > 4) Some(args(4).split(",").toSet) else None
    val spark = Sessions.local(Sessions.cpus, appName = "graft-scale-check")
    // reducer count must scale with the data, exactly as a cluster
    // deployment sizes it (AQE advisory target / dynamic allocation):
    // SPARK_GRAFT_SHUFFLE_BIG sets shuffle partitions for BIG-side runs
    // only (the 100x sweep passes 256 — 100x data through the base's 32
    // reducers measures single-partition saturation, not the plan; the
    // 10x sweep keeps base=big=32 so its ratios stay conservative).
    val baseShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    val bigShuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_BIG", baseShuffle)
    val harness = Measure.attach(spark)
    def timed(name: String, dir: String, shuffle: String): Measure.Record = {
      val fn = SparkEntry.queries(name)
      spark.conf.set("spark.sql.shuffle.partitions", shuffle)
      try {
        Measure.force(fn(spark, dir)) // warm
        harness.run(name)(fn(spark, dir)).orThrow
      } finally spark.conf.set("spark.sql.shuffle.partitions", baseShuffle)
    }
    Measure.force(SparkEntry.entry(spark))

    // a misspelled/renamed name in the headline list must FAIL the gate,
    // not silently shrink it to fewer queries with a green exit
    only.foreach { o =>
      val unknown = o -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"unknown query names in subset: ${unknown.toSeq.sorted.mkString(",")}")
    }
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    val rows = names.flatMap { name =>
      val skip = PinnedBaselines.skipReason(spark, baseDir, name)
        .orElse(PinnedBaselines.skipReason(spark, bigDir, name))
      skip match {
        case Some(reason) =>
          println(s"CHECK-SKIP> $reason")
          None
        case None =>
          // constant-density big-side data for the queries whose TRUE
          // answer is quadratic in make_sf1's near-verbatim replicas
          // (r10 verdict adjudication of dd_setsim_join: the operator is
          // linear on constant-density data — 1.91× for 10× — while the
          // replica generator makes every replica pair a real near-dup,
          // so the exact answer itself grows ~quadratically and NO exact
          // algorithm can serve it linearly). The override is explicit
          // in the artifact row ("big_dir":"dense").
          val denseDir = sys.env.get("SPARK_GRAFT_DENSE_DIR")
            .filter(_ => ScaleCheck.constantDensityQueries(name))
          val bigDirQ = denseDir.getOrElse(bigDir)
          def measure(): (Double, Measure.Record, Double) = {
            val base = timed(name, baseDir, baseShuffle).wallS
            val big = timed(name, bigDirQ, bigShuffle)
            // per-sample hygiene (untimed; the Bench.runs lesson applied
            // per sample because a sample here is 4 executions of a
            // 10×-data query): CacheManager entries leaked by persist()
            // calls squeeze the unified pool and snowball across samples
            // — rel_assoc_rules read [6.7×, 13.5×, 39.6×] across its 3
            // samples in the same JVM before this, monotone in run
            // count, while its plan was unchanged from the 2.8× r10 row.
            try spark.catalog.clearCache()
            catch { case _: Throwable => () }
            (base, big, big.wallS / math.max(base, 0.05))
          }
          var (base, big, ratio) = measure()
          // SYMMETRIC near-bound re-measurement (VERDICT r10 #6, closing
          // the ADVICE r9 retry-asymmetry residue): ONE rule for every
          // query — a single-shot ratio within 2× of the per-query bound
          // FROM EITHER SIDE (ratio > bound/2, so both lucky just-under
          // passes and unlucky just-over failures) is re-measured to 3
          // samples and the MEDIAN ratio kept. Re-measurement can now
          // push a flattering single shot OVER the bound exactly as it
          // can rescue a noisy breach — no pass-bias. Queries far below
          // the bound keep the single shot: they cannot flap the gate,
          // and tripling a 250-query sweep to re-confirm 0.9× ratios
          // measures nothing. One genuine scheduler hiccup still can't
          // fail the sweep (r9: dd_setsim_join read 12.9× in-sweep, 7.8×
          // in isolation on the same binary). EVERY measured ratio lands
          // in the JSON artifact (ADVICE r9), not just the kept median.
          var samples = List((base, big, ratio))
          if (ratio > perQueryBound / 2.0) {
            println(f"CHECK-REMEASURE> $name%-32s $ratio%6.1fx within 2x of $perQueryBound%.1fx bound, median-of-3")
            while (samples.length < 3) samples = samples :+ measure()
            val med = samples.sortBy(_._3)(Ordering.Double.TotalOrdering)(1)
            base = med._1; big = med._2; ratio = med._3
          }
          val retries = samples.length - 1
          val allRatios = samples.map(_._3)
          val denseTag = if (denseDir.isDefined) " [dense]" else ""
          println(f"CHECK> $name%-32s base $base%7.2f s  big ${big.wallS}%7.2f s  ratio $ratio%6.1fx$denseTag")
          Some((name, base, big, ratio, retries, allRatios, denseDir.isDefined))
      }
    }

    val ratios = rows.map(_._4).sorted
    val median =
      if (ratios.isEmpty) 0.0
      else if (ratios.length % 2 == 1) ratios(ratios.length / 2)
      else (ratios(ratios.length / 2 - 1) + ratios(ratios.length / 2)) / 2.0
    // pinned-expected linears are excluded from the informational
    // over-bound count (their honest answer IS the line, ±noise); the
    // hard per-query gate below still includes them
    val over = rows
      .filter(r => r._4 > bound && !expectedLinearQueries.contains(r._1))
      .sortBy(-_._4)
    val overPerQuery = rows.filter(_._4 > perQueryBound).sortBy(-_._4)
    val qs = rows.map { case (k, b, g, r, retries, allRatios, dense) =>
      // retries + every measured ratio recorded, not just the kept best
      val extra =
        if (retries == 0) ""
        else s""","retries":$retries,"ratios":[${allRatios.map(x => f"$x%.2f").mkString(",")}]"""
      val denseExtra = if (dense) s""","big_dir":"dense"""" else ""
      val noteExtra = expectedLinearQueries.get(k)
        .map(n => s""","note":"$n"""").getOrElse("")
      val bigExtra = f""","task_peak_mb":${g.peakExecMemBytes / 1e6}%.1f,"spill_mb":${g.spillBytes / 1e6}%.1f,"parallelism":${g.parallelism}%.2f"""
      f""""$k":{"base":$b%.3f,"big":${g.wallS}%.3f,"ratio":$r%.2f$bigExtra$extra$denseExtra$noteExtra}"""
    }.mkString("{", ",", "}")
    val totalRetries = rows.map(_._5).sum
    val policy = f"median-of-3 for any query whose single-shot ratio exceeds ${perQueryBound / 2.0}%.1fx (= per_query_bound/2, symmetric: re-measurement applies on both sides of the bound)"
    val pinned = rows.map(_._1).filter(expectedLinearQueries.contains)
      .map(n => s""""$n"""").mkString("[", ",", "]")
    println(
      f"""SCALECHECKJSON> {"base":"$baseDir","big":"$bigDir","n":${rows.length},"median_ratio":$median%.2f,"bound":$bound%.1f,"over_bound":${over.length},"pinned_expected_linear":$pinned,"per_query_bound":$perQueryBound%.1f,"over_per_query":${overPerQuery.length},"total_retries":$totalRetries,"retry_policy":"$policy","queries":$qs}""")
    over.foreach { case (k, _, _, r, _, _, _) => println(f"CHECK-OVER> $k%-32s $r%6.1fx > $bound%.1fx") }
    spark.stop()
    if (median > bound) {
      println(f"SCALECHECK FAIL: median ratio $median%.2fx > bound $bound%.1fx")
      sys.exit(1)
    } else if (overPerQuery.nonEmpty) {
      overPerQuery.foreach { case (k, _, _, r, _, _, _) =>
        println(f"SCALECHECK FAIL: $k ratio $r%.2fx > per-query bound $perQueryBound%.1fx")
      }
      sys.exit(1)
    } else {
      println(f"SCALECHECK OK: median ratio $median%.2fx <= bound $bound%.1fx, all ${rows.length} queries <= $perQueryBound%.1fx")
    }
  }
}
