package graft

/** Driver-run benchmark on SPARK_GRAFT_SF_DIR. Each query is timed
  * through [[Measure]]: construct, then a force through the `noop` sink —
  * full computation of every column with zero write cost — so Catalyst
  * cannot prune work the way a bare count() would.
  *
  * Methodology (round-2 ask #7): every query runs n=5 times (override
  * with SPARK_GRAFT_BENCH_N); per-query MIN is the point estimate (the
  * least-noise statistic on a shared host), totals are min/med sums.
  * Execution failures are counted per query and EXCLUDED from timings
  * (r7 verdict #2); a query with zero healthy runs times as null.
  *
  * Output layout is driven by the driver's tail capture (last ~2000
  * stdout chars): the full {min, med, errors} detail, plus the
  * [[Measure.Record]] fields of each query's fastest healthy run, goes
  * to BENCH_DETAIL.json and an early stdout line; per-query minima print
  * on CHUNKED `{"metric":"queries","part":i,...}` lines of ~25 queries
  * each; the FINAL line is a short totals-only record
  * `{"metric":"total","value":…,"med":…,"n":…,"errors":…}` (~90 chars)
  * that survives any tail — a single all-queries final line exceeded
  * the tail in every round 1-7 and the driver never parsed a total.
  */
object Bench {
  /** Untimed JIT/codegen warm set: one representative query per major
    * plan shape (scan+hash-agg, window, star join, explode+agg) so
    * whole-stage codegen, janino, AQE and the noop sink are COMPILED
    * before the first measured family. The r11 agg_* family drift
    * (r11 verdict #2) was JVM warm-up landing on whichever family ran
    * first alphabetically: AggProbe measured the family 24.0 s at bench
    * position vs 18.5 s re-run in the same warm JVM with zero plan
    * difference — -Xms/-XX:+AlwaysPreTouch (build.sbt) covers the
    * heap-expansion half, this warm set the JIT half. */
  val jitWarmQueries: Seq[String] = Seq(
    "agg_pricing_summary", "win_topk_per_customer",
    "rel_star_join_revenue", "txt_token_topk")

  /** HOST CANARY (r12 verdict #2): two consecutive rounds the bench
    * artifact was environment-dominated (r11 = JVM warm-up, r12 = shared
    * host noon slowdown) and each took a round of re-litigation. These
    * three pinned queries — scan+hash-agg, window top-k, broadcast star
    * join, all CPU-shaped and all in [[jitWarmQueries]] so they run
    * fully warm — are measured (min-of-3 each, summed) at bench START
    * and END, inside the same JVM and window as the timed queries. The
    * artifact then carries the host's speed alongside the measurements:
    * cross-round drift can be read as raw AND canary-normalized ratios
    * off the JSONs alone, no probe archaeology. */
  val canaryQueries: Seq[String] = Seq(
    "agg_pricing_summary", "win_topk_per_customer", "rel_star_join_revenue")

  /** The r13 reference host measurement of [[canaryQueries]] at sf0.1 /
    * local[32] (sum of per-query min-of-3, seconds; min of the start/end
    * passes — the r13 preview measured start 9.43 s vs end 1.96 s in ONE
    * run, so the min is the only robust in-window statistic, matching
    * the bench's min-of-n philosophy) — the fixed denominator for
    * `norm_total`: canary_min/canaryRefS > 1 means "this host/window is
    * N× slower than the r13 reference". Re-pin only if the canary set
    * changes. */
  val canaryRefS: Double = 1.9

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val n = sys.env.getOrElse("SPARK_GRAFT_BENCH_N", "5").toInt
    val spark = Sessions.local(Sessions.cpus, appName = "graft-bench")
    val harness = Measure.attach(spark)
    import Measure.force
    // JVM/codegen warm-up on a tiny query so per-query numbers measure
    // the plan, not first-call JIT + codegen compile.
    // Every warm-up step is fault-isolated: a broken table must cost one
    // stderr line, not the round's entire bench artifact (r6 lost all
    // timings to an events schema drift that killed this loop).
    def warm(label: String)(body: => Unit): Unit =
      try body catch { case e: Throwable =>
        System.err.println(s"[bench] warm-up '$label' failed: ${e.getMessage}")
      }
    warm("entry")(force(SparkEntry.entry(spark)))
    // one untimed scan per input table: per-query numbers then measure
    // plan execution, not whichever query alphabetically happens to pay
    // the first-touch parquet footer reads and page-cache misses
    Seq[(String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame)](
      "region" -> graft.sources.Tables.region, "nation" -> graft.sources.Tables.nation,
      "customer" -> graft.sources.Tables.customer, "supplier" -> graft.sources.Tables.supplier,
      "part" -> graft.sources.Tables.part, "orders" -> graft.sources.Tables.orders,
      "lineitem" -> graft.sources.Tables.lineitem, "events" -> graft.sources.Tables.events,
      "documents" -> graft.sources.Tables.documents, "embeddings" -> graft.sources.Tables.embeddings)
      .foreach { case (name, t) => warm(name)(force(t(spark, sfDir))) }
    // untimed JIT/codegen warm pass (see [[jitWarmQueries]])
    jitWarmQueries.foreach { q =>
      warm(q)(SparkEntry.queries.get(q).foreach(fn => force(fn(spark, sfDir))))
    }
    // host canary (see [[canaryQueries]]): min-of-3 per pinned query,
    // summed; measured at start AND end of the timed window. Fault-
    // isolated like the warm-ups — a broken canary costs the canary
    // fields, never the bench.
    def canaryPass(): Double =
      try canaryQueries.map { q =>
        val fn = SparkEntry.queries(q)
        (1 to 3).map(_ => harness.run(q)(fn(spark, sfDir)).orThrow.wallS).min
      }.sum
      catch { case e: Throwable =>
        System.err.println(s"[bench] canary failed: ${e.getMessage}"); -1.0
      }
    val canaryStart = canaryPass()
    // bench the oracle-comparable set (apples-to-apples vs BASELINE)
    val benchSet = SparkEntry.queries.filter { case (k, _) =>
      SparkEntry.oracleSql.contains(k)
    }
    val results: Seq[(String, Seq[Measure.Record], Int)] = benchSet.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        // pinned-geometry baselines are skipped past their design size
        // (never at the driver's sf0.1) — printed EARLY so the compact
        // line stays last for the artifact tail
        // skipReason probes table footers — isolate it too, so a broken
        // source degrades that one query to "measured with errors" rather
        // than killing the run before the compact line prints
        val skip =
          try PinnedBaselines.skipReason(spark, sfDir, name)
          catch { case e: Throwable =>
            System.err.println(s"[bench] skipReason($name) failed: ${e.getMessage}")
            None
          }
        skip match {
          case Some(reason) =>
            println(s"""{"metric":"skip","query":"$name","reason":"$reason"}""")
            None
          case None =>
            // execution failures are COUNTED, not timed: the wall time of
            // a failed attempt is not a measurement (r7 verdict #2 — a
            // query broken at execution time would otherwise bench as a
            // plausible sub-second success). Errored runs are excluded
            // from min/med; a query with zero healthy runs contributes
            // no time and shows up only through its error count.
            val runs = (1 to n).map(_ => harness.run(name)(fn(spark, sfDir)))
            runs.flatMap(_.error).foreach(e =>
              System.err.println(s"[bench] $name run failed: ${e.getMessage}"))
            val healthy = runs.filter(_.ok)
            Some((name, healthy.sortBy(_.wallS), runs.length - healthy.length))
        }
    }
    // trailing-zero-stripped fixed decimals ("0.50"→"0.5", "1.00"→"1"):
    // still valid JSON numbers; with 74 queries the compact line must
    // stay inside the driver's 2000-char stdout tail capture, so
    // per-query minima print at 1 decimal (full 3-decimal detail lives
    // in BENCH_DETAIL.json and the early detail line) and totals at 2
    def fx(d: Double, prec: Int): String = {
      val s = s"%.${prec}f".formatLocal(java.util.Locale.ROOT, d)
      if (s.contains('.')) s.reverse.dropWhile(_ == '0').dropWhile(_ == '.').reverse else s
    }
    def f2(d: Double): String = fx(d, 2)
    def f3(d: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, d)
    def mn(rs: Seq[Measure.Record]): Double = rs.head.wallS
    def md(rs: Seq[Measure.Record]): Double = { // true median (even n: mean of middles)
      val ts = rs.map(_.wallS)
      if (ts.length % 2 == 1) ts(ts.length / 2)
      else (ts(ts.length / 2 - 1) + ts(ts.length / 2)) / 2.0
    }
    val canaryEnd = canaryPass()
    val healthy = results.filter(_._2.nonEmpty)
    val totalErrs = results.map(_._3).sum
    val minTotal = healthy.map(r => mn(r._2)).sum
    val medTotal = healthy.map(r => md(r._2)).sum
    // canary-normalized total: minTotal scaled to the r13 reference
    // host's speed. The MIN of the start/end passes is the denominator —
    // a single contended window at either end (the r13 preview's 9.43 s
    // start vs 1.96 s end) must not poison the normalization; min-of
    // matches the bench's per-query min-of-n statistic. -1 when the
    // canary itself failed.
    val canaryMin =
      if (canaryStart > 0 && canaryEnd > 0) math.min(canaryStart, canaryEnd)
      else -1.0
    val normTotal =
      if (canaryMin > 0) minTotal * canaryRefS / canaryMin else -1.0
    // full detail: file + an early stdout line (the tail may cut it; the
    // file and the chunked lines below are the durable copies)
    val detail = results.map { case (k, ts, e) =>
      val errPart = if (e > 0) s""","errors":$e""" else ""
      if (ts.isEmpty) s""""$k":{"errors":$e}"""
      else s""""$k":{"min":${f3(mn(ts))},"med":${f3(md(ts))}$errPart,${ts.head.jsonFields}}"""
    }.mkString("{", ",", "}")
    val detailJson =
      s"""{"metric":"detail","n":$n,"min_total":${f3(minTotal)},"med_total":${f3(medTotal)},"errors":$totalErrs,"canary_start_s":${f3(canaryStart)},"canary_end_s":${f3(canaryEnd)},"canary_ref_s":${f3(canaryRefS)},"norm_total":${f3(normTotal)},"queries":$detail,"sf":"$sfDir"}"""
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH_DETAIL.json"), detailJson + "\n")
    catch { case _: Throwable => () }
    println(detailJson)
    // Per-query minima on CHUNKED earlier lines (~25 queries ≈ 600 chars
    // per line, well inside any tail window), so the FINAL line can be a
    // short totals-only record: the driver keeps only the last ~2000
    // stdout chars, and with 167 queries a single all-queries line has
    // exceeded that in every prior round (parsed: null r1-r7).
    val entries = results.map { case (k, ts, e) =>
      if (ts.isEmpty) "\"" + k + "\":null"
      else "\"" + k + "\":" + fx(mn(ts), 1)
    }
    val chunks = entries.grouped(25).toSeq
    chunks.zipWithIndex.foreach { case (c, i) =>
      println(s"""{"metric":"queries","part":${i + 1},"of":${chunks.length},"queries":${c.mkString("{", ",", "}")}}""")
    }
    // totals-only compact line LAST (~150 chars — survives any tail); no
    // "sf" field (the driver's artifact wrapper records sf itself).
    // canary/norm fields (r12 verdict #2): host speed lives IN the
    // artifact, so cross-round drift reads off the JSONs alone.
    println(s"""{"metric":"total","value":${f2(minTotal)},"unit":"sec","med":${f2(medTotal)},"n":${results.length},"errors":$totalErrs,"canary_s":${f2(canaryMin)},"canary_ref_s":${f2(canaryRefS)},"norm":${f2(normTotal)}}""")
    System.out.flush()
    spark.stop()
  }
}
