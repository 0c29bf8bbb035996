package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scale-out utilities: the shuffle-shaping tools the 100 TB design
  * leans on when AQE alone isn't enough — key salting for skewed
  * shuffle joins and bucketed table layout for co-located (exchange-
  * free) repeated joins.
  */
object Scale {

  /** Salted inner equi-join for skewed keys: the left (skewed) side
    * gets a random salt in [0, saltFactor); the right side is exploded
    * `saltFactor`× so every (key, salt) bucket finds its match. Breaks
    * a hot key's single monster partition into `saltFactor` tasks at
    * the cost of replicating the right side — use when one side is
    * small-ish per key (dimension-like) but too big or too skewed to
    * broadcast whole.
    *
    * Result equals `left.join(right, keys)` exactly (inner join).
    */
  def saltedJoin(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      saltFactor: Int): DataFrame = {
    val salted = left.withColumn("__salt",
      (rand(seed = 42) * saltFactor).cast("int"))
    val exploded = right.withColumn("__salt",
      explode(sequence(lit(0), lit(saltFactor - 1))))
    salted.join(exploded, keys :+ "__salt").drop("__salt")
  }

  /** Skew-aware salted inner equi-join: salts ONLY the hot keys. The
    * blanket [[saltedJoin]] replicates the entire right side
    * `saltFactor`×, which at 100 TB is itself the scale problem the
    * operator exists to solve; here left-side key counts (one map-side-
    * combined aggregation) identify keys with >= `hotKeyThreshold` rows,
    * that small hot-key list broadcasts to split both sides, the hot
    * slice joins salted and the long tail joins plain, and the two
    * unions back together. Right-side replication cost is
    * saltFactor × |right rows on hot keys| — proportional to the skew,
    * not the dimension. The broadcast hot-key list is bounded by
    * construction: a key needs >= hotKeyThreshold left rows to
    * qualify, so |hot| <= |left| / hotKeyThreshold.
    *
    * Result equals `left.join(right, keys)` exactly (inner join).
    */
  def saltedJoinSkewAware(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      saltFactor: Int,
      hotKeyThreshold: Long): DataFrame = {
    require(keys.nonEmpty, "saltedJoinSkewAware: need at least one key")
    val hot = left.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__kn"))
      .filter(col("__kn") >= hotKeyThreshold)
      .select(keys.map(col): _*)
    // the groupBy output is distinct by construction — skip the
    // defensive distinct() the caller-supplied overload applies
    saltedSplitJoin(left, right, keys, saltFactor, hot)
  }

  /** [[saltedJoinSkewAware]] with a CALLER-SUPPLIED hot-key frame (just
    * the key columns): the counting overload above pays one full pass
    * over `left` per join to find hot keys — at 100 TB callers either
    * already know their hot keys or can sample 1% once and reuse the
    * list across every join of the batch; this overload makes that the
    * cheap path. `hotKeys` must be small enough to broadcast; result
    * still equals `left.join(right, keys)` for ANY hotKeys contents
    * (keys absent from either side simply route to a branch that joins
    * them identically).
    */
  def saltedJoinSkewAware(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      saltFactor: Int,
      hotKeys: DataFrame): DataFrame = {
    require(keys.nonEmpty, "saltedJoinSkewAware: need at least one key")
    // caller-supplied frames may carry duplicates; dedup defensively
    saltedSplitJoin(left, right, keys, saltFactor,
      hotKeys.select(keys.map(col): _*).distinct())
  }

  /** Shared hot/cold split tail; `hot` must already be distinct. */
  private def saltedSplitJoin(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      saltFactor: Int,
      hot: DataFrame): DataFrame = {
    // left-semi/left-anti on the broadcast hot-key list: no flag column
    // survives into the join, so both branches carry identical schemas
    val lHot = left.join(broadcast(hot), keys, "left_semi")
    val lCold = left.join(broadcast(hot), keys, "left_anti")
    val rHot = right.join(broadcast(hot), keys, "left_semi")
    val rCold = right.join(broadcast(hot), keys, "left_anti")
    val coldJoined = lCold.join(rCold, keys)
    val hotJoined = saltedJoin(lHot, rHot, keys, saltFactor)
    coldJoined.unionByName(hotJoined)
  }

  /** Write a table partitioned by a derived date column: readers
    * filtering on `partitionCol` scan only matching directories
    * (partition pruning — PartitionFilters in the plan), the layout
    * move that turns a 100 TB time-ranged scan into a day's worth.
    */
  def writeDatePartitioned(
      df: DataFrame,
      path: String,
      tsCol: String,
      partitionCol: String = "event_date"): Unit =
    df.withColumn(partitionCol, to_date(col(tsCol)))
      .write.mode("overwrite")
      .partitionBy(partitionCol)
      .parquet(path)

  /** Small-file compaction — the lake-maintenance pass that keeps scan
    * parallelism healthy: a directory accumulated from many small
    * writes (streaming micro-batches, per-batch overwrites) is
    * rewritten into ceil(totalBytes / targetBytes) files. File count
    * is computed from the ACTUAL on-disk bytes via the Hadoop
    * FileSystem API — so HDFS/S3A/local URIs all resolve through the
    * same abstraction the lake itself uses, not a local-only
    * java.nio walk — the rewrite is one repartition (round-robin —
    * even output sizes without a shuffle key), and the result lands
    * in a NEW directory so the swap can be atomic at the
    * catalog/rename layer. Returns the output file count.
    */
  def compact(
      spark: org.apache.spark.sql.SparkSession,
      inDir: String,
      outDir: String,
      targetBytes: Long): Int = {
    require(targetBytes > 0, s"targetBytes=$targetBytes")
    val total = graft.Tables.filesUnder(spark, inDir)
      .filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen).sum
    val n = math.max(1L, (total + targetBytes - 1) / targetBytes).toInt
    graft.Tables.parquet(spark, inDir).repartition(n)
      .write.mode("overwrite").parquet(outDir)
    n
  }

  /** Z-order (Morton) key: interleaves the low `bits` bits of two
    * non-negative dimension columns — x in the even bit positions, y in
    * the odd — so rows close in BOTH dimensions land close on the
    * single z-value axis. Sorting or range-partitioning a write by
    * this key gives every output file a BOUNDED min/max envelope in
    * each source dimension simultaneously, which is what lets
    * footer-level min/max stats skip files for predicates on EITHER
    * column — the multi-dimensional data-skipping layout (Delta/
    * Iceberg OPTIMIZE ZORDER) that a single-column sort only provides
    * for its leading column. Pure bit arithmetic (shift/and/sum of
    * disjoint powers of two), so the key is engine-portable and
    * codegen'd; callers clamp dimensions into [0, 2^bits) themselves
    * (e.g. modulo or quantile bucketing) — values outside simply alias,
    * they do not error.
    */
  def zOrderKey(x: Column, y: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"bits=$bits")
    (0 until bits).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)
  }

  /** Deterministic content-hash bucket in [0, buckets): the reproducible
    * alternative to `rand()` for sampling and train/val/test splits —
    * the assignment is a pure function of the key, so it is identical
    * across runs, engines (md5 everywhere), partitionings, and cluster
    * sizes, and a key never migrates between splits when data is
    * re-processed.
    *
    * A null key hashes to a null bucket (md5(null) is null) — callers
    * that cannot tolerate silent null routing must guard; [[hashSplit]]
    * labels null keys explicitly and [[hashSample]] documents their
    * exclusion.
    */
  def hashBucket(key: Column, buckets: Int): Column =
    pmod(md5Prefix32(key), lit(buckets.toLong))

  /** First 8 hex digits of md5 as a 32-bit value in a long — THE
    * engine-portable hash of this repo, bit-identical in DuckDB as
    * `('0x' || substr(md5(x), 1, 8))::BIGINT` (hash parity proven by
    * q51 and the q55/q56/q58/q59 portable-sketch oracles). Null in →
    * null out.
    */
  def md5Prefix32(key: Column): Column =
    conv(substring(md5(key.cast("string")), 1, 8), 16, 10).cast("long")

  /** Reproducible weighted split: `splits` are (label, percent) with
    * percents summing to 100; adds a `split` column assigned by hash
    * bucket ranges. Pure projection — no shuffle, no state. A null key
    * has no hash bucket, so those rows get the explicit sentinel label
    * `__null_key__` rather than a silent NULL split — a splitting
    * utility must never lose rows quietly.
    */
  def hashSplit(
      df: DataFrame,
      keyCol: String,
      splits: Seq[(String, Int)]): DataFrame = {
    require(splits.map(_._2).sum == 100,
      s"split percents must sum to 100: $splits")
    val b = hashBucket(col(keyCol), 100)
    val cumulative = splits.scanLeft(0)(_ + _._2).tail
    val expr = splits.zip(cumulative).foldRight(
      lit(null).cast("string")) { case (((label, _), upper), els) =>
      when(b < upper, lit(label)).otherwise(els)
    }
    df.withColumn("split",
      when(col(keyCol).isNull, lit("__null_key__")).otherwise(expr))
  }

  /** Keep ~pct% of rows, deterministically by key hash. Null keys have
    * no bucket and are EXCLUDED from every sample (documented contract —
    * use [[hashSplit]]'s sentinel label when null keys must surface).
    */
  def hashSample(df: DataFrame, keyCol: String, pct: Int): DataFrame =
    df.filter(hashBucket(col(keyCol), 100) < pct)

  /** Data-mixture rebalancing: keep a different deterministic sample
    * rate per stratum (`strataCol` value → percent, e.g. web sources
    * downsampled, curated sources kept whole). Same md5-bucket
    * construction as [[hashSample]] — reproducible across runs,
    * engines, and partitionings; a pure filter, no shuffle, no state.
    * Strata absent from `rates` use `defaultPct`. Null ids are
    * excluded (no bucket); null strata take `defaultPct`.
    */
  def mixtureSample(
      df: DataFrame,
      strataCol: String,
      idCol: String,
      rates: Seq[(String, Int)],
      defaultPct: Int): DataFrame = {
    require((defaultPct +: rates.map(_._2)).forall(p => p >= 0 && p <= 100),
      s"rates must be percentages in [0,100]: $rates default=$defaultPct")
    val rateCol = rates.foldRight(lit(defaultPct)) {
      case ((stratum, pct), els) =>
        when(col(strataCol) === stratum, lit(pct)).otherwise(els)
    }
    df.filter(hashBucket(col(idCol), 100) < rateCol)
  }

  /** Deterministic weighted sampling without replacement
    * (Efraimidis–Spirakis A-Res): each row draws its uniform from the
    * engine-portable [[md5Prefix32]] of its key — u = (h + 0.5)/2³²,
    * never 0 or 1 — scores es_key = −ln(u)/w, and the k SMALLEST keys
    * win, which is exactly a weighted reservoir sample of size k
    * (P(row first) = wᵢ/Σw, without replacement thereafter), but
    * stateless and reproducible across engines, runs, and
    * partitionings. es_key is QUANTIZED to floor-based fixed-point
    * nanos (floor(x·1e9) carried as a long) before selection so both
    * engines rank the same values — floor of an identical double is
    * bit-deterministic, whereas round(x, n) is NOT portable between
    * Spark and DuckDB when the rounded value feeds joins or a
    * selection boundary (the q125 lesson) — with ties broken by key;
    * the global bottom-k plans as TakeOrderedAndProject — a
    * per-partition heap, never a full sort.
    * Non-positive weights are excluded (−ln(u)/w has no meaning
    * there; documented contract).
    */
  def weightedSample(
      df: DataFrame,
      keyCol: String,
      weight: Column,
      k: Int): DataFrame = {
    require(k > 0, s"k=$k")
    df.withColumn("__w", weight.cast("double"))
      .filter(col("__w") > 0)
      .withColumn("es_key", floor(
        -log((md5Prefix32(col(keyCol)) + lit(0.5)) / lit(4294967296.0))
          / col("__w") * lit(1e9)).cast("long"))
      .drop("__w")
      .orderBy(col("es_key"), col(keyCol))
      .limit(k)
  }

  /** EXACT stratified sampling: precisely ceil(pct% · |stratum|) rows
    * from every stratum, chosen deterministically by md5 order of the
    * key — the per-stratum-count guarantee [[mixtureSample]]'s pure
    * rate filter can only approximate (binomial count noise), for
    * mixtures where the recipe prescribes exact row budgets.
    *
    * Shape: per-stratum quotas are one tiny aggregate; the only
    * ordered selection runs in two phases — the bounded-heap
    * [[graft.plans.TopK.topKPerKey]] operator first prunes every
    * stratum to the LARGEST quota (O(n log k), no per-stratum sort of
    * the full data), then an exact row_number ranks only those
    * bounded survivors and applies each stratum's own quota; the
    * window reuses the heap output's clustering (no extra exchange),
    * and its per-partition sort is over ≤ maxQuota rows per stratum
    * by construction. One driver-side scalar (the max quota — the
    * heap bound must be a literal) over the #strata-row aggregate;
    * the quotas themselves join back via broadcast.
    *
    * For very large quotas (high pct × huge stratum) the heap bound
    * approaches the stratum size and the heap's O(#strata × quota)
    * memory dominates — pass `highCardinality = true` to use the
    * spillable sort-based plan instead.
    */
  def stratifiedSampleExact(
      df: DataFrame,
      strataCol: String,
      keyCol: String,
      pct: Int,
      highCardinality: Boolean = false): DataFrame = {
    require(pct >= 1 && pct <= 100, s"pct must be in [1,100]: $pct")
    val quotas = df.groupBy(strataCol)
      .agg(ceil(count(lit(1)) * pct / lit(100.0)).as("__quota"))
    val maxQuota = quotas.agg(max(col("__quota"))).head.getLong(0).toInt
    val hashed = df.withColumn("__h", md5(col(keyCol).cast("string")))
    val pruned = graft.plans.TopK.topKPerKey(hashed, Seq(strataCol),
      Seq("__h" -> true, keyCol -> true), maxQuota, highCardinality)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(strataCol).orderBy(col("__h"), col(keyCol))
    pruned.withColumn("__r", row_number().over(w))
      .join(broadcast(quotas), Seq(strataCol))
      .filter(col("__r") <= col("__quota"))
      .drop("__h", "__r", "__quota")
  }

  /** EXACT quantile-bucket labeling WITHOUT a global sort — the
    * curriculum/quality-tier assignment ("label every doc with its
    * quality decile") that `ntile()` would answer with one giant
    * ordered window: instead, the DISTINCT score values are
    * aggregated into a histogram (bounded by score cardinality — a
    * 4-decimal quality score has ≤ 10⁴ distinct values no matter how
    * many rows), the cumulative count runs over that SMALL frame, and
    * rows pick up their bucket through a broadcast join on the score.
    * Bucket of value v = floor(#\{rows < v\} · n / N), capped at n−1:
    * unlike ntile, TIES STAY TOGETHER (equal scores always share a
    * bucket — the semantics data-curation wants, and deterministic
    * for any row order/partitioning on both engines).
    */
  def exactQuantileBuckets(
      df: DataFrame,
      scoreCol: String,
      nBuckets: Int): DataFrame = {
    require(nBuckets >= 2, s"nBuckets must be >= 2: $nBuckets")
    val hist = df.groupBy(col(scoreCol)).agg(count(lit(1)).as("__c"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col(scoreCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    // the single-partition window runs over the HISTOGRAM (one row
    // per distinct score), never over the data — bounded by design
    val labeled = hist
      .withColumn("__below", coalesce(sum(col("__c")).over(w), lit(0L)))
      .withColumn("__n", sum(col("__c")).over())
      .withColumn("bucket",
        least(lit(nBuckets - 1),
          floor(col("__below") * nBuckets / col("__n"))).cast("int"))
      .select(col(scoreCol), col("bucket"))
    df.join(broadcast(labeled), Seq(scoreCol))
  }

  /** Temperature-scaled mixture weights (the multilingual/multi-source
    * sampling rule of XLM-R / mT5): source s with n_s of N rows gets
    *   w_s = (n_s/N)^α / Σ_t (n_t/N)^α
    * — α &lt; 1 upsamples small sources, α = 1 is proportional. One
    * tiny aggregate per stage (counts, then the normalizer), powers
    * quantized to DECIMAL so the normalizer Σ is exact, one IEEE
    * division at the end. Output: (strataCol, n_rows, weight).
    */
  def temperatureWeights(
      df: DataFrame,
      strataCol: String,
      alpha: Double): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0,1]: $alpha")
    val counts = df.groupBy(col(strataCol)).agg(count(lit(1)).as("n_rows"))
    val total = counts.agg(sum(col("n_rows")).as("__n"))
    val powed = counts.crossJoin(broadcast(total))
      .withColumn("__pa",
        round(pow(col("n_rows").cast("double") / col("__n"), lit(alpha)), 9)
          .cast("decimal(18,9)"))
    val z = powed.agg(sum(col("__pa")).as("__z"))
    powed.crossJoin(broadcast(z))
      .select(col(strataCol), col("n_rows"),
        round(col("__pa").cast("double") / col("__z").cast("double"), 6)
          .as("weight"))
  }

  /** UniMax language-balanced allocation (Chung et al. 2023, "UniMax:
    * Fairer and More Effective Language Sampling for Large-Scale
    * Multilingual Pretraining"): distribute a token budget across
    * languages so no language repeats more than `maxEpochs` times,
    * spreading the rest UNIFORMLY over the un-capped languages. The
    * paper's sequential allocator has the closed-form WATER-FILLING
    * solution computed here: with caps c_i = n_i·maxEpochs sorted
    * ascending and prefix sums P, the waterline is
    * t = (B − P_{k−1})/(N−k+1) at the FIRST k with c_k ≥ t; languages
    * below the line keep their full cap, the rest get t, and if the
    * budget exceeds Σc everyone is capped. alloc_i = min(c_i, t).
    *
    * B = budgetFraction · Σn (floored to whole tokens) so the query is
    * meaningful at any scale factor. Every division is one IEEE double
    * op on integer-exact operands — bit-identical cross-engine, the
    * q84 discipline. The one ordered window runs over the LANGUAGE
    * table (≤ tens of rows by construction — the documented bounded
    * single-partition window pattern, like q61/q83). Output:
    * (strataCol, n_tokens, cap, alloc, epochs).
    */
  def unimaxAllocation(
      df: DataFrame,
      strataCol: String,
      tokens: Column,
      maxEpochs: Int,
      budgetFraction: Double): DataFrame = {
    require(maxEpochs >= 1, s"maxEpochs must be >= 1: $maxEpochs")
    require(budgetFraction > 0, s"budgetFraction must be > 0: $budgetFraction")
    val counts = df.groupBy(col(strataCol)).agg(sum(tokens).as("n_tokens"))
    val totals = counts.agg(sum(col("n_tokens")).as("__tot"),
      count(lit(1)).as("__nl"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cap"), col(strataCol))
    val staged = counts.crossJoin(broadcast(totals))
      .withColumn("cap", col("n_tokens") * lit(maxEpochs.toLong))
      .withColumn("__budget",
        floor(col("__tot").cast("double") * lit(budgetFraction)).cast("long"))
      .withColumn("__k", row_number().over(w))
      .withColumn("__p", coalesce(
        sum(col("cap")).over(w.rowsBetween(Long.MinValue, -1)), lit(0L)))
      .withColumn("__tk", (col("__budget") - col("__p")).cast("double") /
        (col("__nl") - col("__k") + lit(1)).cast("double"))
    // the FIRST eligible rank (min k with cap ≥ t_k) carries the
    // waterline — later ranks' t_k are meaningless once the prefix
    // passes the budget (they can go negative); a min over t_k instead
    // of min_by-k was the twin-bug the hand-computed spec caught
    val waterline = staged.filter(col("cap") >= col("__tk"))
      .agg(min_by(col("__tk"), col("__k")).as("__t"))
    staged.crossJoin(broadcast(waterline))
      // a stratum with zero tokens has no epochs (0/0) — excluded,
      // the lmPerplexity/fleschStats zero-denominator contract (and
      // it cannot consume budget anyway: cap = 0)
      .filter(col("n_tokens") > 0)
      .withColumn("alloc", round(least(col("cap").cast("double"),
        coalesce(col("__t"), lit(Double.MaxValue))), 4))
      .select(col(strataCol), col("n_tokens"), col("cap"), col("alloc"),
        round(col("alloc") / col("n_tokens"), 6).as("epochs"))
  }

  /** Write a table bucketed + sorted by `key` into the session catalog:
    * subsequent equi-joins between tables bucketed the same way plan
    * with ZERO Exchange on either side (SortMergeJoin over pre-shuffled
    * files) — the "pre-partition once, join many times" pattern for
    * fact-fact joins repeated across a pipeline.
    */
  def writeBucketed(
      df: DataFrame,
      table: String,
      key: String,
      buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)

  /** Concat-and-chunk sequence packing — the pretraining layout step:
    * documents are (conceptually) tokenized, concatenated in `idCol`
    * order, and sliced into fixed `seqLen`-token windows; each doc
    * learns its global token offset and the first/last sequence it
    * lands in. Zero-token docs occupy no tokens and are pinned to the
    * single sequence at their offset.
    *
    * The global prefix sum is TWO-LEVEL, never a single-partition
    * window: ids bucket order-preservingly (`floor(id / bucketSpan)`),
    * token totals aggregate per bucket (one shuffle), the bucket
    * totals — corpus/bucketSpan rows, sized to stay tiny — cumsum in
    * one window and broadcast back, and each doc adds its
    * within-bucket exclusive cumsum (window partitioned BY BUCKET, so
    * every window partition is bounded by bucketSpan ids). Pick
    * `bucketSpan` so both levels stay bounded at the target corpus
    * (1e6 span → 1e5 bucket rows for 1e11 docs).
    *
    * Output: (idCol, n_tokens, tok_offset, seq_first, seq_last,
    * n_seqs), all longs.
    */
  def packSequences(
      df: DataFrame,
      idCol: String,
      tokens: Column,
      seqLen: Long,
      bucketSpan: Long = 4096): DataFrame = {
    require(seqLen >= 1 && bucketSpan >= 1,
      s"seqLen and bucketSpan must be positive: $seqLen, $bucketSpan")
    import org.apache.spark.sql.expressions.Window
    val base = df.select(col(idCol), tokens.cast("long").as("n_tokens"))
      .withColumn("__bucket",
        floor(col(idCol) / lit(bucketSpan)).cast("long"))
    val bucketPrefix = base.groupBy("__bucket")
      .agg(sum("n_tokens").as("__bt"))
      .withColumn("__prefix",
        coalesce(sum(col("__bt")).over(Window.orderBy(col("__bucket"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("__bucket", "__prefix")
    val local = Window.partitionBy(col("__bucket")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    base.join(broadcast(bucketPrefix), Seq("__bucket"))
      .withColumn("tok_offset",
        col("__prefix") + coalesce(sum(col("n_tokens")).over(local), lit(0L)))
      .withColumn("seq_first", expr(s"tok_offset div ${seqLen}L"))
      .withColumn("seq_last",
        expr(s"(tok_offset + greatest(n_tokens, 1L) - 1L) div ${seqLen}L"))
      .withColumn("n_seqs", col("seq_last") - col("seq_first") + 1)
      .select(col(idCol), col("n_tokens"), col("tok_offset"),
        col("seq_first"), col("seq_last"), col("n_seqs"))
  }
}
