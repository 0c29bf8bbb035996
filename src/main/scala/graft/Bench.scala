package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main (driver contract): runs every SparkEntry query on
  * SPARK_GRAFT_SF_DIR and prints one JSON line of per-query seconds.
  *
  * Queries are materialized through the `noop` datasource sink — a
  * plain `count()` would let Catalyst drop final sorts and unreferenced
  * projections, under-measuring the real work.
  */
object Bench {
  /** Median of the successful (≥ 0) timings; -1 when none succeeded so
    * consumers can't mistake a crash for a fast run. */
  private[graft] def medianOf(xs: List[Double]): Double = {
    val ok = xs.filter(_ >= 0).sorted
    if (ok.isEmpty) -1.0
    else if (ok.size % 2 == 1) ok(ok.size / 2)
    else (ok(ok.size / 2 - 1) + ok(ok.size / 2)) / 2.0
  }

  /** The pass-spread contamination rule (see the suspect computation
    * in main for the full rationale): the MEDIAN of the successful
    * passes exceeds 2× the best pass AND tops 1 s. Callers add their
    * own success-count conditions (the interleaved flag wants ≥ 3
    * passes; the isolated clearance keeps suspicion on ANY failed
    * pass). Shared so the two sites can never drift.
    */
  private[graft] def spread(xs: List[Double]): Boolean = {
    val ok = xs.filter(_ >= 0)
    val med = medianOf(xs)
    ok.nonEmpty && med / math.max(ok.min, 1e-9) > 2.0 && med > 1.0
  }

  /** Per-query medians over each query's last `lastN` samples from
    * CLEAN runs (same sf, `contended:false` — or contended runs that
    * explicitly stamped `accepted_baseline:true`, the re-baseline
    * escape hatch after a confirmed framework-wide change) of a
    * BENCH_HISTORY.jsonl file, with each run's isolated
    * re-measurements substituted over its interleaved medians (the
    * isolated numbers are the de-contaminated readings). This is
    * the round-18 contamination detector the within-run spread rule
    * can't provide: a box that is UNIFORMLY slow across all passes
    * leaves every per-query spread small — the r17 official artifact
    * shipped ~30 queries 1.5-6× their clean-battery values with
    * `contended:false` because only pass-vs-pass disagreement was
    * checked. History is the cross-run reference the spread rule
    * lacks. Samples are taken newest-first PER QUERY (round 19): the
    * old last-N-runs-globally window let a streak of
    * SPARK_GRAFT_BENCH_ONLY subset runs evict the full-suite runs and
    * silently strip most queries of their baseline. Unparseable lines
    * are skipped; no history → empty map (first run, new query names
    * degrade to the spread rule alone).
    */
  private[graft] def historyMedians(path: String, sfDir: String,
      lastN: Int = 5): Map[String, Double] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    def num(v: JValue): Option[Double] = v match {
      case JDouble(d) => Some(d)
      case JInt(i) => Some(i.toDouble)
      case JLong(l) => Some(l.toDouble)
      case JDecimal(d) => Some(d.toDouble)
      case _ => None
    }
    val runs: Seq[Map[String, Double]] =
      scala.util.Try {
        val p = java.nio.file.Paths.get(path)
        if (!java.nio.file.Files.exists(p)) Seq.empty
        else {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.readAllLines(p).asScala.toSeq.flatMap { line =>
            scala.util.Try {
              val j = JsonMethods.parse(line)
              val sfOk = (j \ "sf") == JString(sfDir)
              val accepted = (j \ "accepted_baseline") == JBool(true)
              val clean = (j \ "contended") match {
                case JBool(b) => !b || accepted
                case _ => true // pre-r16 lines carry no flag
              }
              if (!sfOk || !clean) None
              else {
                def toMap(v: JValue): Map[String, Double] = v match {
                  case JObject(fs) =>
                    fs.flatMap { case (k, x) => num(x).map(k -> _) }.toMap
                  case _ => Map.empty
                }
                val vals = toMap(j \ "queries") ++ toMap(j \ "isolated")
                if (vals.isEmpty) None else Some(vals)
              }
            }.toOption.flatten
          }
        }
      }.getOrElse(Seq.empty)
    // newest-first, up to lastN samples PER QUERY (a subset run only
    // contributes to the names it actually measured)
    val newest = runs.reverse
    newest.flatMap(_.keys).distinct.flatMap { name =>
      val vs = newest.flatMap(_.get(name)).filter(_ > 0).take(lastN).toList
      if (vs.isEmpty) None else Some(name -> medianOf(vs))
    }.toMap
  }

  /** The history-contamination rule: the interleaved median exceeds
    * 1.5× this query's clean-history median AND by an absolute margin
    * that rules out sub-100-ms jitter. Shared by the flagging site and
    * BenchSpec.
    */
  private[graft] def histHot(med: Double, hist: Double): Boolean =
    med > 0 && hist > 0 && med > 1.5 * hist && med - hist > 0.25

  /** The run's core context for every emitted line: the requested
    * core count ([[Sessions.cpus]]; it also sets the shuffle width), the
    * master the session really got, and its `defaultParallelism` — so
    * an 8- vs 32-core run can be told apart from the tail line alone. */
  private[graft] def runContext(cpus: String, master: String,
      defaultParallelism: Int): String =
    s""","cpus":$cpus,"master":"$master","default_parallelism":$defaultParallelism"""

  /** 1-minute /proc/loadavg figure, 0.0 when unreadable. */
  private def load1(csv: String): Double =
    csv.split(",").headOption
      .flatMap(x => scala.util.Try(x.toDouble).toOption).getOrElse(0.0)

  /** "1min,5min,15min" /proc/loadavg sample ("" when unreadable). */
  private def loadavg(): String =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
      .split(" ").take(3).mkString(",")
    catch { case _: Throwable => "" }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // QUIET-BOX GUARD (round-16 finding: the official run started under
    // loadavg 14.2 from unrelated processes and 13 queries needed
    // isolated repair). Sampled BEFORE the session builds — at this
    // point any load is OTHER processes, not us. Above the threshold we
    // wait once for the box to drain, then proceed either way but stamp
    // `"contended":true` into the artifact so a reader knows the
    // interleaved medians were measured on a shared box WITHOUT having
    // to reverse-engineer it from the suspect/isolated fields.
    // Try-guarded like load1 above: a malformed env value must degrade
    // to the default, not crash the bench before any measurement
    val loadMax = sys.env.get("SPARK_GRAFT_BENCH_LOAD_MAX")
      .flatMap(x => scala.util.Try(x.toDouble).toOption).getOrElse(4.0)
    var loadBoot = loadavg()
    if (load1(loadBoot) > loadMax) {
      System.err.println(s"[bench] box is busy at start (loadavg " +
        s"$loadBoot, threshold $loadMax) — waiting 60 s for it to drain")
      Thread.sleep(60000L)
      loadBoot = loadavg()
    }
    val loadContended = load1(loadBoot) > loadMax
    if (loadContended)
      System.err.println(s"[bench] still busy (loadavg $loadBoot) — " +
        "proceeding, artifact will carry contended:true")
    // optional comma-separated name filter for ISOLATED re-measurement
    // of suspect queries (interleave noise diagnosis); the driver sets
    // no filter and always measures the full surface. Parsed and
    // validated BEFORE the session build so a typo fails instantly
    // instead of after the multi-second warm-up; unknown names fail
    // loudly — a silent empty filter would emit a zero-query JSON
    // that reads as a passing bench.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { o =>
      val unknown = o -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_BENCH_ONLY names unknown queries: ${unknown.toSeq.sorted.mkString(",")}")
      require(o.nonEmpty, "SPARK_GRAFT_BENCH_ONLY is set but names no queries")
    }
    // optional extra session confs for A/B measurements, e.g.
    // SPARK_GRAFT_EXTRA_CONF="spark.sql.streaming.stateStore.providerClass=
    // org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    // (semicolon-separated k=v pairs; used for the round-15 streaming
    // state-store floor measurement)
    val extraConf = sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq
      .flatMap(_.split(";")).map(_.trim).filter(_.nonEmpty)
      .map { kv =>
        val i = kv.indexOf('=')
        require(i > 0, s"SPARK_GRAFT_EXTRA_CONF entry not k=v: $kv")
        (kv.take(i), kv.drop(i + 1))
      }
    val spark = Sessions.local(extra = extraConf)
    spark.sparkContext.setLogLevel("WARN")
    // NOTE for log readers: any "WindowExec: No Partition Defined"
    // warnings in this bench's output come from three documented
    // bounded single-partition windows — the BUCKET level of
    // Scale.packSequences' two-level prefix sum (q61, corpus/bucketSpan
    // rows by construction), Scale.exactQuantileBuckets' cumulative
    // sum over the score HISTOGRAM (q83, ≤10⁴ distinct 4-decimal
    // scores by construction), and Scale.unimaxAllocation's prefix sum
    // over the LANGUAGE table (q94, ≤tens of rows) — not scale hazards.

    // warm the session with table scans (parquet footers, codegen
    // compiler) rather than pre-running one arbitrary query, which
    // would give that query alone a warmed measurement
    Tables.names.foreach { t =>
      try Tables(spark, sfDir, t).count() catch { case _: Throwable => () }
    }
    // one tiny synthetic job through agg + broadcast join + window +
    // the noop sink: warms the shared codegen/JIT paths generically so
    // the alphabetically-first timed query doesn't absorb them
    try {
      val warm = spark.range(1000).selectExpr("id", "id % 7 AS g")
      warm.join(warm.groupBy("g").count().hint("broadcast"), "g")
        .selectExpr("g", "id", "count",
          "row_number() OVER (PARTITION BY g ORDER BY id) AS rn")
        .write.mode("overwrite").format("noop").save()
    } catch { case _: Throwable => () }

    // median of `passes` timings per query (passes interleaved so JIT
    // warm-up spreads evenly instead of landing on pass 1's first
    // queries): single-shot numbers on this box swing up to 2×
    // run-to-run, which is too noisy to steer optimization or detect
    // regressions round-over-round
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // one timed execution of one query, with the block-manager /
    // cache-manager isolation that used to live inline in the
    // interleaved loop (shared by the isolated re-measurement pass —
    // both paths MUST measure under identical cache discipline or the
    // isolated numbers wouldn't be comparable to the interleaved ones)
    def runOnce(name: String,
        fn: (SparkSession, String) => DataFrame): Double = {
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).write.mode("overwrite").format("noop").save(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          false
        }
      val t = if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
      // queries that localCheckpoint() intermediates (sketch
      // signatures, pre-sort materializations) leave their blocks in
      // the block manager; across 3 interleaved passes × 63 queries
      // that accumulation contended with later queries' shuffles and
      // corrupted round-7 medians (q30 recorded 8× its isolated cost).
      // Each query re-materializes its own checkpoints, so dropping
      // them here never changes results — only isolates measurements.
      // blocking = true: block removal must not overlap the next
      // query's timed region (the wait itself happens between
      // t-measurements, so it costs untimed wall-clock only).
      // CAVEAT: this drops ALL persistent RDDs, which would silently
      // defeat any future query measuring cross-query index REUSE
      // (e.g. Similarity.ivfIndex); such a benchmark needs an
      // allowlist or tagged-RDD exemption here.
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      // keep the SQL CacheManager consistent with block-manager state:
      // unpersisting via getPersistentRDDs bypasses it, and a stale
      // InMemoryRelation entry would match later plans with its
      // storage level silently reset (no bench query df.persist()s
      // today, but the invariant is cheap to hold)
      spark.sharedState.cacheManager.clearCache()
      t
    }
    // Contamination guard (round-12 finding: the official 344 s artifact
    // disagreed with a same-code run by >3× on six queries — box
    // contention, not plan cost). Two self-identifying signals in every
    // artifact: (a) /proc/loadavg captured at boot (pre-session, see
    // the quiet-box guard above), start, and end — a load
    // far above the allotted CPUs means OTHER processes competed for
    // the cores during the run; (b) per-query pass agreement — a
    // median is only trustworthy when its passes agree, so any query
    // whose MEDIAN exceeds 2× its BEST pass (see the `suspect`
    // computation below for the exact rule and why median/best, not
    // max/min) is automatically RE-MEASURED ISOLATED at the end of the
    // run and both readings land in the artifact (see the
    // self-correction block below).
    val loadStart = loadavg()
    val timings = scala.collection.mutable.Map.empty[String, List[Double]]
    for (_ <- 1 to passes; (name, fn) <- names) {
      timings(name) = runOnce(name, fn) :: timings.getOrElse(name, Nil)
    }
    // 4-decimal rounding: 0.1 ms resolution is far below run-to-run
    // noise and keeps per-entry width bounded.
    def r4(v: Double): Double = math.round(v * 10000).toDouble / 10000
    val results = names.map { case (name, _) =>
      name -> r4(medianOf(timings(name)))
    }
    // pass-spread flag: MEDIAN > 2× the best pass (and > 1 s). One slow
    // pass is ordinary JIT/cold-cache noise and leaves the median near
    // the min; contamination (another process on the cores) slows MOST
    // passes, dragging the median itself away from the best — exactly
    // the r12 signature (q146_cube official median 19.4 s vs 0.96 s
    // isolated). The interleaved medians in "queries" stay a faithful
    // record of what was measured; the flag says which entries the
    // box contaminated.
    val suspect = names.flatMap { case (name, _) =>
      val ok = timings(name).filter(_ >= 0)
      if (ok.size >= 3 && spread(timings(name))) Some(name) else None
    }.sorted
    // HISTORY flag (round-18, VERDICT r17 item 1): the spread rule only
    // sees WITHIN-RUN disagreement, so a uniformly-contended run (all
    // passes equally slow — the r17 signature: q338 16.8 vs 4.4 clean,
    // q326 25.2 vs 4.5, with tight pass agreement) sailed through with
    // contended:false. Compare each interleaved median against the
    // per-query median of the last 5 clean same-sf BENCH_HISTORY runs
    // (isolated-substituted) and re-measure every exceedance isolated;
    // when >5% of the suite triggers, the whole run is stamped
    // contended:true — that is a box problem, not 5% of queries
    // independently regressing between rounds.
    val histPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_HISTORY",
      "BENCH_HISTORY.jsonl")
    val hist = historyMedians(histPath, sfDir)
    val histSuspect = names.flatMap { case (name, _) =>
      hist.get(name).filter(h => histHot(medianOf(timings(name)), h))
        .map(_ => name)
    }.sorted
    if (histSuspect.nonEmpty)
      System.err.println(s"[bench] ${histSuspect.size} queries exceed " +
        s"1.5x their clean-history median: ${histSuspect.mkString(",")}")
    // SELF-CORRECTION (round-15 finding: BENCH_r15.json shipped 9
    // queries inflated 2–3.5× by box contention and a reader had to
    // cross-reference BENCH_HISTORY.jsonl to learn the truth). When
    // the spread flag fires, re-measure each suspect ISOLATED — same
    // passes, same cache discipline, but back-to-back with nothing
    // else sharing the JVM heap or the cores between its passes — and
    // publish BOTH readings: "queries" keeps the interleaved medians
    // (faithful record), "isolated" carries the re-measurements, and
    // the HEADLINE total uses min(interleaved, isolated) for suspect
    // entries so the one figure everyone compares across rounds is
    // built from the trustworthy readings. An isolated re-run that
    // still spreads >2× stays listed in "suspect"; one that agrees is
    // removed — suspect:[] plus a non-empty "isolated" map is the
    // signature of a self-corrected artifact.
    // SPARK_GRAFT_BENCH_ISOLATE=qA,qB forces isolated re-measurement
    // of named queries even when their spread flag didn't fire —
    // exercises the self-correction path on demand and lets an
    // operator pin a known-noisy query's clean reading into the
    // artifact without a separate BENCH_ONLY run
    val forced = sys.env.get("SPARK_GRAFT_BENCH_ISOLATE").toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    forced.foreach { n => require(names.exists(_._1 == n),
      s"SPARK_GRAFT_BENCH_ISOLATE names unknown query: $n") }
    val toIsolate = (suspect ++ histSuspect ++ forced).distinct.sorted
    val fnByName = names.toMap
    // a query's isolated attempt is UNSTABLE when a pass failed or its
    // own passes spread — the box-noise signature (a clean repeat of a
    // deterministic plan does not disagree with itself 2×); it is
    // CONFIRMED-ELEVATED when its passes agree but the median still
    // exceeds the history trigger (a genuine regression, or a box so
    // uniformly loaded even isolation couldn't help — the load stamps
    // disambiguate)
    def isoUnstable(ts: List[Double]): Boolean =
      ts.count(_ >= 0) < passes || spread(ts)
    def isoHistHot(name: String, ts: List[Double]): Boolean =
      hist.get(name).exists(h => histHot(medianOf(ts), h))
    def measureIsolated(qs: Seq[String], tag: String): Map[String, List[Double]] =
      qs.map { name =>
        val ts = (1 to passes).map(_ => runOnce(name, fnByName(name))).toList
        timings(s"__${tag}__$name") = ts
        name -> ts
      }.toMap
    val isoPass1: Map[String, List[Double]] =
      if (toIsolate.isEmpty) Map.empty
      else {
        System.err.println(s"[bench] re-measuring ${toIsolate.size} " +
          s"suspect queries isolated: ${toIsolate.mkString(",")}")
        measureIsolated(toIsolate, "isolated")
      }
    // RETRY ON A QUIET BOX (round 19 — the r18 headline carried ~104 s
    // of box noise because the isolated phase itself ran under
    // loadavg 7 and its contaminated readings were substituted into
    // the headline anyway): any query whose isolated attempt is still
    // unstable or still over history gets ONE more isolated attempt
    // after waiting for the box to drain; the better (lower-median)
    // attempt wins — contention only ever inflates, so min is the
    // better estimator of true cost.
    val retryNames = toIsolate.filter { n =>
      val ts = isoPass1(n)
      isoUnstable(ts) || isoHistHot(n, ts)
    }
    val isoBest: Map[String, List[Double]] =
      if (retryNames.isEmpty) isoPass1
      else {
        var waited = 0
        while (load1(loadavg()) > loadMax && waited < 300) {
          System.err.println(s"[bench] box busy (loadavg ${loadavg()}) — " +
            "waiting before isolated retry")
          Thread.sleep(30000L); waited += 30
        }
        System.err.println(s"[bench] retrying ${retryNames.size} still-" +
          s"suspect queries isolated: ${retryNames.mkString(",")}")
        val retry = measureIsolated(retryNames, "isolated2")
        isoPass1 ++ retry.map { case (n, ts2) =>
          val ts1 = isoPass1(n)
          n -> (if (medianOf(ts2) >= 0 &&
            (medianOf(ts1) < 0 || medianOf(ts2) < medianOf(ts1))) ts2 else ts1)
        }
      }
    val isolated: Map[String, Double] =
      isoBest.map { case (n, ts) => n -> r4(medianOf(ts)) }
    // a suspect stays suspect if even its best isolated attempt
    // spreads (genuinely bimodal cost or a still-contended box), or if
    // its median STILL exceeds the history trigger (the isolation
    // didn't de-contaminate it — either the box never quieted or the
    // query genuinely regressed; both deserve a reader's distrust until
    // a clean run confirms); agreement on both clears the flag
    val stillSuspect = toIsolate.filter { name =>
      val ts = isoBest(name)
      isoUnstable(ts) || isoHistHot(name, ts)
    }
    // the unstable subset is a BOX verdict, not a query verdict — it
    // feeds the contended stamp below; the stable-but-elevated
    // remainder is a candidate regression and must NOT stamp the run
    // contended (doing so would lock the stale baseline in forever:
    // contended runs never enter history, so a genuine framework-wide
    // regression could never re-baseline)
    val unstableSuspect = stillSuspect.filter(n => isoUnstable(isoBest(n)))
    // loadavg end is captured AFTER the isolated re-measurement so the
    // artifact's load window covers everything that was timed
    val loadEnd = loadavg()
    def qsJson(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    // headline total: min(interleaved, isolated) where an isolated
    // reading exists — contention only ever inflates a reading, so the
    // minimum of the two honest measurements is always the better
    // estimator (round 19; the old rule substituted the isolated
    // reading UNCONDITIONALLY, which inflated the r18 headline when
    // the isolated phase itself ran on a loaded box: q326 53.3 s
    // isolated vs 15.8 interleaved vs ~4.5 clean)
    def headlineVal(n: String, interleaved: Double): Double =
      isolated.get(n) match {
        case Some(iso) =>
          val pos = Seq(interleaved, iso).filter(_ >= 0)
          if (pos.isEmpty) -1.0 else pos.min
        case None => interleaved
      }
    val total = r4(results.map { case (n, v) => headlineVal(n, v) }
      .filter(_ >= 0).sum)
    val isolatedJson =
      if (isolated.isEmpty) ""
      else s""","isolated":${qsJson(isolated.toSeq.sortBy(_._1))}"""
    // the box was contaminated when: load was high at boot OR at the
    // end of the run (the r18 hole — loadEnd 7.19 never entered the
    // determination), OR >5% of the suite sits over its clean-history
    // trigger (queries don't regress in bulk between rounds), OR any
    // query's isolated attempts stayed UNSTABLE even after the
    // quiet-box retry (self-disagreeing repeats of a deterministic
    // plan = something else on the cores, regardless of the 5% ratio)
    val contended = loadContended || load1(loadEnd) > loadMax ||
      histSuspect.size * 20 > math.max(1, names.size) ||
      unstableSuspect.nonEmpty
    // explicit re-baseline escape hatch (set after a known framework-
    // wide change): the history line carries accepted_baseline:true so
    // historyMedians admits it even when contended
    val acceptBaseline = sys.env.contains("SPARK_GRAFT_BENCH_ACCEPT_BASELINE")
    def strArr(xs: Seq[String]): String =
      xs.map("\"" + _ + "\"").mkString("[", ",", "]")
    val histJson =
      if (histSuspect.isEmpty) ""
      else s""","hist_flagged":${strArr(histSuspect)}"""
    val unstableJson =
      if (unstableSuspect.isEmpty) ""
      else s""","suspect_unstable":${strArr(unstableSuspect)}"""
    val acceptJson =
      if (acceptBaseline) ""","accepted_baseline":true""" else ""
    val sc = spark.sparkContext
    val guard =
      s""","loadavg":"$loadBoot;$loadStart;$loadEnd","contended":$contended$acceptJson,"suspect":${strArr(stillSuspect)}$unstableJson$histJson$isolatedJson""" +
        runContext(Sessions.cpus.toString, sc.master, sc.defaultParallelism)
    def line(rs: Seq[(String, Double)], extra: String): String =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":${qsJson(rs)},"sf":"$sfDir","passes":$passes$guard$extra}"""
    val fullLine = line(results, "")
    // The driver captures only the trailing ~2,000 chars of stdout and
    // parses the LAST JSON line it finds there. At 73 queries the full
    // per-query map (~2.2 KB) overflows that window — shaving decimals
    // was sized for 63 queries and the surface outgrew it (BENCH_r07 and
    // BENCH_r09 both came back parsed:null for this reason). Structural
    // fix: the full map always goes to a file and to an EARLY stdout
    // line (for humans / long-tail capture), and the FINAL line is
    // guaranteed to fit the tail window — when the full line is short
    // enough it IS the final line; otherwise the final line keeps the
    // headline total and the slowest queries that fit a hard budget,
    // with an explicit omission count so a truncated map can never be
    // mistaken for full coverage.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_FULL.json")
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(outPath),
      (fullLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outPath: ${e.getMessage}")
    }
    // Cumulative archive: BENCH_FULL.json is overwritten per run, so
    // cross-round like-for-like comparisons were limited to whatever
    // per-query tail survived the driver's stdout window. Append every
    // full map (timestamped) to a JSONL history that no run truncates.
    val histLine = s"""{"at":"${java.time.Instant.now()}",""" +
      fullLine.stripPrefix("{")
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(histPath),
      (histLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8),
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not append $histPath: ${e.getMessage}")
    }
    val budget = 1500 // hard cap for the final line, well under the 2,000-char tail
    if (fullLine.length <= budget) {
      println(fullLine)
    } else {
      println(fullLine) // early full line: survives in logs / files, not relied on for parsing
      // keep the slowest queries (the ones a perf reader needs first),
      // greedily while the rendered line stays inside the budget
      val byCost = results.sortBy { case (_, v) => -v }
      val kept = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
      def render(extraOmitted: Int): String =
        line(kept.toSeq.sortBy(_._1),
          s""","queries_omitted":$extraOmitted,"queries_total":${results.size},"full":"$outPath"""")
      for (entry <- byCost) {
        kept += entry
        if (render(results.size - kept.size).length > budget) kept.remove(kept.size - 1)
      }
      println(render(results.size - kept.size))
    }
    spark.stop()
  }
}
