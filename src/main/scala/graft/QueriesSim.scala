package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Similarity

/** Similarity-search query surface over the `embeddings` table
  * (`vec_id`, `embedding: array<float>`, `label`). Embeddings are cast
  * to array<double> before any arithmetic so Spark and the DuckDB
  * oracle (DOUBLE[] cast) do identical-precision math; cosine values
  * are rounded to 6 decimals before ranking so ranks are float-stable.
  */
object QueriesSim {
  import QueriesCore.Q

  private def vecsD(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir).select(col("vec_id"),
      // native array cast (codegen) — the transform-lambda form was
      // interpreted and re-inlined into every consumer
      col("embedding").cast("array<double>").as("embedding"))

  /** Higher-order array-function suite over the embedding column —
    * per-vector statistics via `aggregate`/`filter`/`exists`, the
    * whole family in one codegen projection, no explode: dimension,
    * L2 norm (left-to-right fold, bit-matching DuckDB's list_reduce —
    * (0+x₁) ≡ x₁ in IEEE so the differing seed styles agree exactly),
    * positive-component count, mean, and a has-outlier flag.
    */
  def q131VectorStats(s: SparkSession, dir: String): DataFrame =
    vecsD(s, dir).select(col("vec_id"),
      size(col("embedding")).cast("bigint").as("dim"),
      round(sqrt(aggregate(col("embedding"), lit(0.0d),
        (a, x) => a + x * x)), 6).as("l2"),
      size(filter(col("embedding"), x => x > 0))
        .cast("bigint").as("n_pos"),
      round(aggregate(col("embedding"), lit(0.0d), (a, x) => a + x)
        / size(col("embedding")), 6).as("mean"),
      exists(col("embedding"), x => abs(x) > lit(2.0d)).as("has_outlier"))
      .orderBy("vec_id")

  /** Brute-force cosine top-10 per query vector (query set = every 50th
    * vector, broadcast; corpus streams — the exactness baseline).
    */
  def q40TopkBruteForce(s: SparkSession, dir: String): DataFrame = {
    val all = vecsD(s, dir)
    Similarity.topK(all, all.filter(pmod(col("vec_id"), lit(50)) === 0),
        "vec_id", "embedding", k = 10)
      .withColumn("rank", col("rank").cast("int"))
      .orderBy("query_id", "rank")
  }

  /** Embedding-cosine near-duplicate pairs ≥ 0.42, exact (all-pairs).
    * The LSH-bucketed variant (q56) is the 100 TB scale path; this one
    * is the oracle-checkable ground truth.
    */
  def q41EmbeddingNearDup(s: SparkSession, dir: String): DataFrame = {
    // scoped to every 4th vector: all-pairs is quadratic by design — the
    // oracle-checkable exact baseline; LSH (q56) is the scale path.
    // norms precomputed once per row; pair stage = one dot + a divide,
    // in the same operation order as the oracle's list_cosine_similarity
    val all = vecsD(s, dir).filter(pmod(col("vec_id"), lit(4)) === 0)
      .withColumn("__n", Similarity.l2norm(col("embedding")))
    val l = all.select(col("vec_id").as("id_a"),
      col("embedding").as("va"), col("__n").as("na"))
    val r = all.select(col("vec_id").as("id_b"),
      col("embedding").as("vb"), col("__n").as("nb"))
    l.join(r, col("id_a") < col("id_b"))
      .withColumn("cos_sim",
        round(Similarity.dot(col("va"), col("vb")) / (col("na") * col("nb")), 6))
      .filter(col("cos_sim") >= 0.42)
      .select("id_a", "id_b", "cos_sim")
      .orderBy("id_a", "id_b")
  }

  /** Engine-portable LSH (random-hyperplane) bucketed ANN top-5 — the
    * scale path, per-query work is its bucket's slice, not the whole
    * corpus. Plane components come from md5 instead of xxhash64
    * ([[Similarity.hyperplaneBucket]] portable mode), so the DuckDB
    * oracle replicates the WHOLE scale path end-to-end — bucket bits,
    * multi-probe bucket set, candidate join, cosine, and ranking. The
    * xxhash64 mode keeps its ScalaTest recall coverage.
    */
  def q56LshTopkPortable(s: SparkSession, dir: String): DataFrame = {
    val all = vecsD(s, dir)
    Similarity.lshTopK(all, all.filter(pmod(col("vec_id"), lit(50)) === 0),
        "vec_id", "embedding", k = 5, nPlanes = 4, probes = 4,
        portable = true)
      .withColumn("rank", col("rank").cast("int"))
      .orderBy("query_id", "rank")
  }

  /** IVF-bucketed ANN top-5: the data-adaptive scale path beside LSH
    * (q56) — k-means inverted lists, nProbe closest lists per query.
    * No DuckDB oracle (Lloyd training isn't SQL-expressible there);
    * recall vs q40 exact is asserted in ScalaTest (SimilaritySpec).
    */
  def q46IvfTopk(s: SparkSession, dir: String): DataFrame = {
    val all = vecsD(s, dir)
    // quantizer trains on a deterministic 50% hash sample — the scale
    // posture (training cost halves; recall is assertion-covered in
    // OperatorsSpec at the same sampling)
    Similarity.ivfTopK(all, all.filter(pmod(col("vec_id"), lit(50)) === 0),
        "vec_id", "embedding", k = 5, nCentroids = 16, nProbe = 4, iters = 2,
        trainSamplePct = 50)
      .withColumn("rank", col("rank").cast("int"))
      .orderBy("query_id", "rank")
  }

  /** Engine-portable IVF serving top-5 — the md5-centroid twin of q46:
    * fixed [[Similarity.portableCentroids]] (0 Lloyd iterations) stand
    * in for the trained quantizer, so the ENTIRE serving path —
    * corpus→list assignment (argmax rounded cosine, ties to lowest
    * centroid), nProbe=3 probe selection, inverted-list candidate
    * scan, and (cos desc, id) ranking — is replicated by the DuckDB
    * oracle, including each neighbor's centroid_id in the output.
    * Training keeps its recall coverage in ScalaTest (q46 unchanged).
    */
  def q65IvfPortable(s: SparkSession, dir: String): DataFrame = {
    val all = vecsD(s, dir)
    Similarity.ivfPortableTopK(all,
        all.filter(pmod(col("vec_id"), lit(50)) === 0),
        "vec_id", "embedding", k = 5, nCentroids = 8, dim = 64, nProbe = 3)
      .withColumn("rank", col("rank").cast("int"))
      .orderBy("query_id", "rank")
  }

  /** Build-once/probe-many IVF serving — the contract
    * [[Similarity.ivfIndex]] exists for, driver-visible and
    * oracle-checked: the portable index (fixed md5 centroids +
    * full-corpus assignment) is built ONCE and materialized, then TWO
    * disjoint query batches probe the same inverted lists
    * ([[Similarity.ivfPortableTopKWithIndex]]); outputs are tagged and
    * unioned. At 100 TB this is the difference between an index build
    * and a full corpus re-scan per query batch. The checkpoint is
    * built and fully consumed inside the query, so it composes with
    * the bench harness's per-query unpersist.
    */
  def q66IvfIndexReuse(s: SparkSession, dir: String): DataFrame = {
    val all = vecsD(s, dir)
    val (lists0, cents) = Similarity.ivfPortableIndex(all, "vec_id",
      "embedding", nCentroids = 8, dim = 64)
    // pay the full-corpus assignment once for both batches
    val lists = lists0.localCheckpoint()
    def serve(batch: DataFrame, tag: String): DataFrame =
      Similarity.ivfPortableTopKWithIndex(lists, cents, batch, "vec_id",
          "embedding", k = 5, nProbe = 3)
        .withColumn("rank", col("rank").cast("int"))
        .withColumn("batch", lit(tag))
    serve(all.filter(pmod(col("vec_id"), lit(50)) === 0), "a")
      .unionByName(serve(all.filter(pmod(col("vec_id"), lit(50)) === 25), "b"))
      .orderBy("batch", "query_id", "rank")
  }

  /** Incremental embedding near-dup — the vector twin of q67's
    * daily-ingest contract ([[Similarity.embeddingNearDupsIncremental]]):
    * the corpus (vec_id%3≠0) is bucketed ONCE into the portable LSH
    * index ([[Similarity.lshVectorIndex]], md5 hyperplanes), the "new
    * batch" (vec_id%3=0) buckets itself and probes it, and the result
    * equals the full-corpus bucketed near-dups restricted to pairs
    * touching a new vector — which is exactly what the DuckDB oracle
    * computes (q56's bucket construction, probe side restricted).
    */
  def q69EmbeddingIncremental(s: SparkSession, dir: String): DataFrame = {
    val all = vecsD(s, dir)
    val corpus = all.filter(pmod(col("vec_id"), lit(3)) =!= 0)
    val fresh = all.filter(pmod(col("vec_id"), lit(3)) === 0)
    val index = Similarity.lshVectorIndex(corpus, "vec_id", "embedding",
      nPlanes = 4, portable = true)
    Similarity.embeddingNearDupsIncremental(index, fresh, "vec_id",
        "embedding", threshold = 0.42, nPlanes = 4, portable = true)
      .orderBy("id_a", "id_b")
  }

  /** Int8-quantized brute-force top-10 ([[Similarity.quantizeInt8]] /
    * [[Similarity.topKQuantized]]) — the ANN memory lever (4× smaller
    * codes than float32) with the pair stage reduced to one EXACT
    * integer code dot + O(1) scalar math via the algebraic expansion
    * of the dequantized dot. Fully oracle-checked: quantization uses
    * floor(+0.5) (identical in both engines, unlike round()'s tie
    * rule) and the oracle replicates codes, per-vector scalars, the
    * closed-form norms, and the pair formula op-for-op.
    */
  def q60QuantizedTopk(s: SparkSession, dir: String): DataFrame = {
    // materialize the quantized index ONCE: codes come from an
    // interpreted transform that CollapseProject would otherwise
    // re-inline into the pair stage (re-quantizing per PAIR) and into
    // both crossJoin sides — and a real deployment quantizes a corpus
    // version once, not per query batch
    val quant = Similarity.quantizeInt8(vecsD(s, dir), "vec_id", "embedding")
      .localCheckpoint()
    Similarity.topKQuantized(quant,
        quant.filter(pmod(col("vec_id"), lit(50)) === 0), "vec_id", k = 10)
      .withColumn("rank", col("rank").cast("int"))
      .orderBy("query_id", "rank")
  }

  /** L2-normalized embeddings — the PQ input convention: on unit
    * vectors the ADC inner product IS the cosine, aligning the
    * quantizer's L2 objective with the cosine ranking the rest of the
    * family uses (un-normalized MIPS would rank by magnitude too).
    * Materialized via localCheckpoint for the same reason q60
    * checkpoints its codes: the per-element division is an
    * interpreted transform that CollapseProject would otherwise
    * re-inline into every downstream consumer (encode, LUT, norms).
    */
  private def unitVecsD(s: SparkSession, dir: String): DataFrame = {
    val v = vecsD(s, dir)
      .withColumn("__n", Similarity.l2norm(col("embedding")))
    v.select(col("vec_id"),
        transform(col("embedding"), x => x / col("__n")).as("embedding"))
      .localCheckpoint()
  }

  /** Product-quantization ADC top-5 ([[Similarity.pqPortableTopK]])
    * — m=4 subspaces × ks=8 fixed md5 centroids over the L2-normalized
    * 64-dim embeddings; normalization, codes, the per-query lookup
    * table, the exact DECIMAL partial-sum, and the (adc_dot desc, id)
    * ranking all replicate in DuckDB. Recall vs the exact top-k is
    * spec-checked (PqSpec); the k-means-trained path is q81 — the
    * serving path is what this query hash-proves, mirroring the q65
    * IVF convention.
    */
  def q80PqTopk(s: SparkSession, dir: String): DataFrame = {
    val all = unitVecsD(s, dir)
    Similarity.pqPortableTopK(all,
        all.filter(pmod(col("vec_id"), lit(50)) === 0),
        "vec_id", "embedding", k = 5, m = 4, ks = 8, dim = 64)
      .withColumn("rank", col("rank").cast("int"))
      .orderBy("query_id", "rank")
  }

  /** TRAINED product quantization ([[Similarity.pqTrainedTopK]]):
    * per-subspace L2 k-means codebooks (all subspaces in one
    * distributed job) + the same ADC serving. k-means has no
    * cross-engine twin → rows-only at the driver gate; PqSpec pins
    * recall@10 above the portable codebooks and above a floor.
    * m=8/ks=16 — the fidelity configuration training pays for.
    */
  def q81PqTrained(s: SparkSession, dir: String): DataFrame = {
    val all = unitVecsD(s, dir)
    Similarity.pqTrainedTopK(all,
        all.filter(pmod(col("vec_id"), lit(50)) === 0),
        "vec_id", "embedding", k = 5, m = 8, ks = 16, dim = 64, iters = 3)
      .withColumn("rank", col("rank").cast("int"))
      .orderBy("query_id", "rank")
  }

  /** IVF-PQ ADC top-5 ([[Similarity.ivfPqPortableTopK]]) — the
    * production ANN composition: 8 portable IVF lists × nProbe=3
    * pruning the scanned fraction, m=4/ks=8 PQ residual codes
    * pruning the scanned bytes. Every stage of index build AND
    * serving (assignment, residuals, codes, probes, LUT,
    * q·c + Σ LUT decomposition, ranking) hash-checks against DuckDB.
    */
  def q82IvfPqTopk(s: SparkSession, dir: String): DataFrame = {
    val all = unitVecsD(s, dir)
    Similarity.ivfPqPortableTopK(all,
        all.filter(pmod(col("vec_id"), lit(50)) === 0),
        "vec_id", "embedding", k = 5, nCentroids = 8, dim = 64,
        nProbe = 3, m = 4, ks = 8)
      .withColumn("rank", col("rank").cast("int"))
      .orderBy("query_id", "rank")
  }

  /** Trained IVF-PQ ([[Similarity.ivfPqTrainedTopK]]): Lloyd coarse
    * centroids + residual-trained PQ codebooks + the shared serving
    * tail. k-means ⇒ rows-only; PqSpec pins recall vs the portable
    * composition (q82).
    */
  def q85IvfPqTrained(s: SparkSession, dir: String): DataFrame = {
    val all = unitVecsD(s, dir)
    Similarity.ivfPqTrainedTopK(all,
        all.filter(pmod(col("vec_id"), lit(50)) === 0),
        "vec_id", "embedding", k = 5, nCentroids = 8, dim = 64,
        nProbe = 3, m = 8, ks = 16, iters = 3)
      .withColumn("rank", col("rank").cast("int"))
      .orderBy("query_id", "rank")
  }

  /** IVF index reuse with the index persisted to PARQUET — the actual
    * 100 TB posture: at scale the inverted lists live on the lake and
    * outlive any one Spark session, so serving must survive a
    * write/read round trip (schema, nullability, array encoding), not
    * just a block-manager checkpoint (q66's in-session variant). Same
    * build-once/probe-two-batches contract and the SAME DuckDB oracle
    * as q66 — a hash mismatch here would localize a parquet round-trip
    * fidelity bug.
    */
  def q92IvfParquetReuse(s: SparkSession, dir: String): DataFrame = {
    val all = vecsD(s, dir)
    val (lists0, cents) = Similarity.ivfPortableIndex(all, "vec_id",
      "embedding", nCentroids = 8, dim = 64)
    val root = java.nio.file.Files.createTempDirectory("q92-ivf").toString
    try {
      lists0.write.parquet(s"$root/lists")
      val lists = Tables.parquet(s, s"$root/lists")
      def serve(batch: DataFrame, tag: String): DataFrame =
        Similarity.ivfPortableTopKWithIndex(lists, cents, batch, "vec_id",
            "embedding", k = 5, nProbe = 3)
          .withColumn("rank", col("rank").cast("int"))
          .withColumn("batch", lit(tag))
      serve(all.filter(pmod(col("vec_id"), lit(50)) === 0), "a")
        .unionByName(serve(all.filter(pmod(col("vec_id"), lit(50)) === 25), "b"))
        .orderBy("batch", "query_id", "rank")
        // materialize BEFORE the finally deletes the on-disk index
        .localCheckpoint(true)
    } finally graft.TmpTrees.delete(root)
  }

  /** SemDeDup ([[Similarity.semDeDup]]) with the portable md5
    * quantizer: cluster-scoped semantic dedup at cosine ≥ 0.42 (q41's
    * proven near-dup regime), keep-lowest-centroid-cos election. The
    * fixed centroids make assignment, election order, pair cosines,
    * and the EXISTS drop rule all DuckDB-replicable — the entire
    * operator is hash-checked; trained quantizers keep their recall
    * coverage in ScalaTest (SimilaritySpec).
    */
  def q87SemDedup(s: SparkSession, dir: String): DataFrame = {
    val all = vecsD(s, dir)
    Similarity.semDeDup(all, "vec_id", "embedding",
        Similarity.portableCentroids(s, nCentroids = 8, dim = 64),
        threshold = 0.42)
      .orderBy("vec_id")
  }

  /** Exact k-NN label classification (k=5, squared-L2) — the
    * embedding-quality eval a labeled corpus runs: every 10th vector
    * is held out and classified by majority vote of its 5 nearest
    * training neighbors. Distances in exact integer fixed-point
    * (floor(x·1e6) components, so Spark and DuckDB compare identical
    * longs — no float rank boundary exists); neighbor selection on
    * the bounded-heap [[graft.plans.TopK]] operator (O(n log k), no
    * per-partition sort); the vote argmax is a struct-min with a
    * pinned (count desc, label asc) tie-break. The brute-force
    * distance pass is the deliberate exact baseline of the q40
    * family — the IVF/PQ indexes (q46/q80/q82) are its scale path.
    */
  def q188KnnClassify(s: SparkSession, dir: String): DataFrame = {
    // micros-quantized vectors ride array<int> (|x| ≤ 0.58 → ≤ 5.8e5),
    // self-dots precompute once per ROW, and the per-PAIR kernel is
    // one codegen VecDotI32: Σ(a−b)² = Σa² + Σb² − 2Σab over exact
    // integers — the identical d2, minus the interpreted
    // zip_with/aggregate lambda that dominated the 2.2M-pair loop
    // (4.6 → ~1.5 s isolated at sf0.1)
    val iv = Tables.embeddings(s, dir).select(col("vec_id"), col("label"),
      transform(col("embedding").cast("array<double>"),
        x => floor(x * 1e6).cast("int")).as("iv"))
      .withColumn("__self",
        graft.functions.VecOps.vecDotI32(col("iv"), col("iv")))
    val test = iv.filter(pmod(col("vec_id"), lit(10)) === 0)
      .select(col("vec_id").as("q_id"), col("label").as("true_label"),
        col("iv").as("qv"), col("__self").as("__qs"))
    val train = iv.filter(pmod(col("vec_id"), lit(10)) =!= 0)
      .select(col("vec_id").as("t_id"), col("label").as("t_label"),
        col("iv").as("tv"), col("__self").as("__ts"))
    val pairs = test.crossJoin(broadcast(train))
      .select(col("q_id"), col("true_label"), col("t_id"),
        col("t_label"),
        (col("__qs") + col("__ts") - lit(2L) *
          graft.functions.VecOps.vecDotI32(col("qv"), col("tv")))
          .as("d2"))
    graft.plans.TopK.topKPerKey(pairs, Seq("q_id"),
        Seq(("d2", true), ("t_id", true)), 5)
      .groupBy("q_id", "true_label", "t_label")
      .agg(count(lit(1)).as("__n"))
      .groupBy("q_id", "true_label")
      .agg(min(struct((-col("__n")).as("nn"), col("t_label").as("l")))
        .as("__w"))
      .select(col("q_id").as("vec_id"), col("true_label"),
        col("__w.l").cast("int").as("pred_label"),
        (-col("__w.nn")).cast("bigint").as("n_votes"),
        (col("__w.l") === col("true_label")).as("correct"))
      .orderBy("vec_id")
  }

  /** Per-class classification eval over the q188 kNN output —
    * confusion-spine counts (n_true = tp+fn, n_pred = tp+fp) and the
    * zero-guarded integer-micros precision/recall/F1 every model eval
    * harness reports (F1 = 2·tp/(n_true+n_pred) — no float, no
    * half-way rounding). The spine is the UNION of true and predicted
    * labels so a never-predicted or never-true class still gets a
    * row with its zeros instead of vanishing. Composes q188's whole
    * pipeline (the oracle re-chains it as CTEs), then three tiny
    * broadcastable rollups.
    */
  def q266KnnEval(s: SparkSession, dir: String): DataFrame = {
    val per = q188KnnClassify(s, dir)
      .select(col("true_label"), col("pred_label")).localCheckpoint()
    val spine = per.select(col("true_label").cast("int").as("label"))
      .unionByName(per.select(col("pred_label").as("label"))).distinct()
    val nt = per.groupBy(col("true_label").cast("int").as("label"))
      .agg(count(lit(1)).as("n_true"))
    val np = per.groupBy(col("pred_label").as("label"))
      .agg(count(lit(1)).as("n_pred"))
    val tp = per.filter(col("true_label") === col("pred_label"))
      .groupBy(col("true_label").cast("int").as("label"))
      .agg(count(lit(1)).as("tp"))
    spine.join(nt, Seq("label"), "left")
      .join(np, Seq("label"), "left")
      .join(tp, Seq("label"), "left")
      .select(col("label"),
        coalesce(col("n_true"), lit(0L)).as("n_true"),
        coalesce(col("n_pred"), lit(0L)).as("n_pred"),
        coalesce(col("tp"), lit(0L)).as("tp"))
      .select(col("label"),
        col("n_true").cast("bigint").as("n_true"),
        col("n_pred").cast("bigint").as("n_pred"),
        col("tp").cast("bigint").as("tp"),
        when(col("n_pred") === 0, 0L)
          .otherwise(expr("tp * 1000000L DIV n_pred"))
          .cast("bigint").as("precision_micros"),
        when(col("n_true") === 0, 0L)
          .otherwise(expr("tp * 1000000L DIV n_true"))
          .cast("bigint").as("recall_micros"),
        when(col("n_true") + col("n_pred") === 0, 0L)
          .otherwise(expr("2L * tp * 1000000L DIV (n_true + n_pred)"))
          .cast("bigint").as("f1_micros"))
      .orderBy("label")
  }

  /** The q188 kNN chain as DuckDB CTEs (through `pick`) — shared by
    * the q188 oracle and q266's eval-on-top oracle.
    */
  private val knnOracleCtes: String =
    """iv AS (
      |  SELECT vec_id, label,
      |    list_transform(embedding::DOUBLE[],
      |      x -> CAST(floor(x * 1e6) AS BIGINT)) AS v
      |  FROM embeddings),
      |q AS (SELECT * FROM iv WHERE vec_id % 10 = 0),
      |t AS (SELECT * FROM iv WHERE vec_id % 10 <> 0),
      |d AS (
      |  SELECT q.vec_id AS q_id, q.label AS q_label,
      |    t.vec_id AS t_id, t.label AS t_label,
      |    list_sum(list_transform(range(1, len(q.v) + 1),
      |      i -> (q.v[i] - t.v[i]) * (q.v[i] - t.v[i]))) AS d2
      |  FROM q CROSS JOIN t),
      |top AS (
      |  SELECT *, row_number() OVER (PARTITION BY q_id
      |    ORDER BY d2, t_id) AS rn
      |  FROM d),
      |votes AS (
      |  SELECT q_id, q_label, t_label, count(*) AS n
      |  FROM top WHERE rn <= 5 GROUP BY 1, 2, 3),
      |pick AS (
      |  SELECT *, row_number() OVER (PARTITION BY q_id
      |    ORDER BY n DESC, t_label) AS rp
      |  FROM votes)""".stripMargin

  /** MMR diversified re-ranking (Carbonell & Goldstein 1998) — the
    * retrieval-diversity step RAG pipelines bolt onto top-k: from each
    * query's top-20 candidate pool, greedily select 5 documents
    * maximizing λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s) with λ = 0.7.
    * Everything is EXACT integer arithmetic: similarity is the raw
    * int8-code dot ([[Similarity.quantizeInt8]]'s floor(+0.5) codes —
    * the q60 portability discipline — through the codegen
    * [[graft.functions.VecOps.vecDotI32]], ≤ 64·255² per dot), and λ
    * rides a ×10 integer scale (score_x10 = 7·rel − 3·maxsim), so the
    * 5 greedy rounds — the declared semantics, like q276's fixed LPA
    * rounds — are bit-identical cross-engine with (score desc, doc_id)
    * tie-breaks. Shape: ONE corpus×query-batch scored pass pruned by
    * the bounded-heap [[graft.plans.TopK.topKPerKey]] (never a global
    * sort); every round after lives on per-query ≤20-row frames with
    * ≤20×5 code dots per query — pool-bounded, not corpus-bounded.
    */
  def q307MmrRerank(s: SparkSession, dir: String): DataFrame =
    mmrRerankCapped(s, dir, Long.MaxValue)

  /** q307 with the query batch capped to ids below `cap` — the scale
    * probe holds the batch at copy-0 ids while the corpus grows N×
    * (the q269RrfFusionCapped retrieval posture: per-query serving
    * cost vs corpus size is what scales in production).
    */
  private[graft] def mmrRerankCapped(
      s: SparkSession, dir: String, cap: Long): DataFrame = {
    val quant = Similarity.quantizeInt8(vecsD(s, dir), "vec_id", "embedding")
      .select(col("vec_id"), col("codes")).localCheckpoint()
    val q = quant.filter(pmod(col("vec_id"), lit(50)) === 0 &&
        col("vec_id") < cap)
      .select(col("vec_id").as("query_id"), col("codes").as("qc"))
    val scored = quant
      .select(col("vec_id").as("doc_id"), col("codes").as("dc"))
      .crossJoin(broadcast(q))
      .filter(col("doc_id") =!= col("query_id"))
      .withColumn("rel",
        graft.functions.VecOps.vecDotI32(col("qc"), col("dc")).cast("long"))
      .select("query_id", "doc_id", "dc", "rel")
    val pool = graft.plans.TopK.topKPerKey(scored, Seq("query_id"),
      Seq("rel" -> false, "doc_id" -> true), 20).localCheckpoint()
    val w1 = Window.partitionBy("query_id")
      .orderBy(col("rel").desc, col("doc_id"))
    // rank 1 is pure relevance (S is empty, the diversity term
    // vanishes); score keeps the same ×10 scale
    var sel = pool.withColumn("__rn", row_number().over(w1))
      .filter(col("__rn") === 1)
      .select(col("query_id"), col("doc_id"), col("dc"), col("rel"),
        lit(1).as("mmr_rank"), (col("rel") * 7).as("score_x10"))
      .localCheckpoint()
    for (r <- 2 to 5) {
      val ms = pool
        .join(sel.select(col("query_id"), col("dc").as("__sc")),
          Seq("query_id"))
        .withColumn("__sim",
          graft.functions.VecOps.vecDotI32(col("dc"), col("__sc"))
            .cast("long"))
        .groupBy("query_id", "doc_id").agg(max(col("__sim")).as("__ms"))
      val wr = Window.partitionBy("query_id")
        .orderBy(col("score_x10").desc, col("doc_id"))
      val pick = pool.join(ms, Seq("query_id", "doc_id"))
        .join(sel.select(col("query_id"), col("doc_id")),
          Seq("query_id", "doc_id"), "left_anti")
        .withColumn("score_x10", col("rel") * 7 - col("__ms") * 3)
        .withColumn("__rn", row_number().over(wr))
        .filter(col("__rn") === 1)
        .select(col("query_id"), col("doc_id"), col("dc"), col("rel"),
          lit(r).as("mmr_rank"), col("score_x10"))
      sel = sel.unionByName(pick).localCheckpoint()
    }
    sel.select(col("query_id").cast("bigint").as("query_id"),
        col("mmr_rank").cast("int").as("mmr_rank"),
        col("doc_id").cast("bigint").as("doc_id"),
        col("rel").cast("bigint").as("rel_dot"),
        col("score_x10").cast("bigint").as("score_x10"))
      .orderBy("query_id", "mmr_rank")
  }

  /** NDCG@10 — the graded-relevance retrieval metric (Järvelin &
    * Kekäläinen 2002) the recall/RRF family (q242/q269) lacks: each
    * query's exact cosine top-10 (q40's oracle-replicable ranking) is
    * scored with graded label relevance (same label → gain 7 = 2³−1,
    * adjacent label → 1, else 0) under the 1/log₂(r+1) position
    * discount as PINNED micro-integer constants (the q304
    * constant-table discipline — no runtime float logs to disagree
    * cross-engine). The IDEAL ranking never sorts the corpus: with
    * two nonzero gain tiers, IDCG is a closed form over the per-label
    * corpus HISTOGRAM (label-cardinality-bounded, broadcast) and the
    * discount PREFIX sums — idcg = 7·W[a] + (W[a+b] − W[a]) with
    * a = min(10, same−1), b = min(10−a, adjacent). ndcg_ppm is one
    * integral division per query. Scale: one corpus×batch scored pass
    * (the declared brute-force baseline, as q40) + a label histogram;
    * nothing else is corpus-proportional.
    */
  def q308Ndcg(s: SparkSession, dir: String): DataFrame =
    ndcgCapped(s, dir, Long.MaxValue)

  /** q308 with the query batch capped below `cap` (probe posture —
    * see [[mmrRerankCapped]]). */
  private[graft] def ndcgCapped(
      s: SparkSession, dir: String, cap: Long): DataFrame = {
    val w = Seq(1000000L, 630930L, 500000L, 430677L, 386853L,
      356207L, 333333L, 315465L, 301030L, 289065L)
    val pref = w.scanLeft(0L)(_ + _) // W[0..10]
    val iv = Tables.embeddings(s, dir).select(col("vec_id"), col("label"))
    val all = vecsD(s, dir)
    def isQuery = pmod(col("vec_id"), lit(50)) === 0 && col("vec_id") < cap
    val top = Similarity.topK(all, all.filter(isQuery),
      "vec_id", "embedding", k = 10)
    val gained = top
      .join(iv.select(col("vec_id").as("neighbor_id"),
        col("label").as("__ld")), Seq("neighbor_id"))
      .join(broadcast(iv.filter(isQuery)
        .select(col("vec_id").as("query_id"), col("label").as("__lq"))),
        Seq("query_id"))
      .withColumn("__gain",
        when(col("__ld") === col("__lq"), 7L)
          .when(abs(col("__ld") - col("__lq")) === 1, 1L)
          .otherwise(0L))
    val dcg = gained.groupBy("query_id")
      .agg(sum(col("__gain") *
        element_at(array(w.map(lit): _*), col("rank").cast("int")))
        .as("dcg_micro"))
    val hist = iv.groupBy("label").agg(count(lit(1)).as("__c"))
    val prefA = array(pref.map(lit): _*) // 1-based: element_at(i+1) = W[i]
    val ideal = iv.filter(isQuery)
      .select(col("vec_id").as("query_id"), col("label").as("__lq"))
      .join(broadcast(hist.select(col("label").as("__lq"),
        col("__c").as("__same"))), Seq("__lq"))
      .join(broadcast(hist.select((col("label") + 1).as("__lq"),
        col("__c").as("__lo"))), Seq("__lq"), "left")
      .join(broadcast(hist.select((col("label") - 1).as("__lq"),
        col("__c").as("__hi"))), Seq("__lq"), "left")
      .withColumn("__n7", col("__same") - 1) // exclude the query itself
      .withColumn("__n1",
        coalesce(col("__lo"), lit(0L)) + coalesce(col("__hi"), lit(0L)))
      .withColumn("__a", least(lit(10L), col("__n7")))
      .withColumn("__b", least(lit(10L) - col("__a"), col("__n1")))
      .select(col("query_id"),
        (element_at(prefA, (col("__a") + 1).cast("int")) * 7 +
          element_at(prefA, (col("__a") + col("__b") + 1).cast("int")) -
          element_at(prefA, (col("__a") + 1).cast("int")))
          .as("idcg_micro"))
    dcg.join(ideal, Seq("query_id"))
      .select(col("query_id").cast("bigint").as("query_id"),
        col("dcg_micro").cast("bigint").as("dcg_micro"),
        col("idcg_micro").cast("bigint").as("idcg_micro"),
        expr("""CAST(CAST(dcg_micro AS DECIMAL(38,0)) * 1000000
                DIV nullif(idcg_micro, 0) AS BIGINT)""").as("ndcg_ppm"))
      .orderBy("query_id")
  }

  val queries: Map[String, Q] = Map(
    "q308_ndcg" -> q308Ndcg _,
    "q307_mmr_rerank" -> q307MmrRerank _,
    "q188_knn_classify" -> q188KnnClassify _,
    "q266_knn_eval" -> q266KnnEval _,
    "q131_vector_stats" -> q131VectorStats _,
    "q40_topk_brute_force" -> q40TopkBruteForce _,
    "q41_embedding_near_dup" -> q41EmbeddingNearDup _,
    // xxhash64 hyperplane LSH (once q42) is not declared: q56/q69 are
    // its hash-gated md5 twins and q40 the exact-recall baseline; the
    // fast path stays spec-gated.
    "q46_ivf_topk" -> q46IvfTopk _,
    "q56_lsh_topk_portable" -> q56LshTopkPortable _,
    "q60_quantized_topk" -> q60QuantizedTopk _,
    "q65_ivf_portable" -> q65IvfPortable _,
    "q66_ivf_index_reuse" -> q66IvfIndexReuse _,
    "q69_embedding_incremental" -> q69EmbeddingIncremental _,
    "q80_pq_topk" -> q80PqTopk _,
    "q81_pq_trained" -> q81PqTrained _,
    "q82_ivfpq_topk" -> q82IvfPqTopk _,
    "q85_ivfpq_trained" -> q85IvfPqTrained _,
    "q87_semdedup" -> q87SemDedup _,
    "q92_ivf_parquet_reuse" -> q92IvfParquetReuse _,
  )

  /** The q56 oracle's per-plane dot product against the md5-derived
    * hyperplane: element index i is DuckDB-1-based, the hash input is
    * the SAME "p:d" string Spark hashes (d 0-based), and list_reduce
    * folds left-to-right exactly like Spark's `aggregate` — the sign
    * of this value decides bucket bit p on both engines.
    */
  private def planeDotSql(p: Int): String =
    s"list_reduce(list_transform(range(1, len(v) + 1), i -> v[i] * " +
      s"((('0x' || substr(md5('$p:' || (i - 1)), 1, 8))::BIGINT % 10001) " +
      s"/ 5000.0 - 1.0)), (a, b) -> a + b)"

  private def bucketSql(nPlanes: Int): String =
    (0 until nPlanes).map(p =>
      s"(CASE WHEN ${planeDotSql(p)} >= 0 THEN ${1L << p} ELSE 0 END)")
      .mkString(" + ")

  // lazy: oraclesBase is declared below (keeps the big SQL map at the
  // bottom of the file); object-init order would otherwise NPE
  lazy val oracles: Map[String, String] = oraclesBase +
    // q92 is q66's contract with the index round-tripped through
    // PARQUET — identical serving math, same oracle
    ("q92_ivf_parquet_reuse" -> oraclesBase("q66_ivf_index_reuse"))

  /** One MMR greedy round (q307): max code-dot against the selected
    * set, score_x10 = 7·rel − 3·maxsim, argmax with doc_id tie-break,
    * appended to the running selection with its rank. `list_dot_product`
    * over int codes is exact in double (≤ 64·255² « 2⁵³) — the q60
    * argument — and is cast straight back to BIGINT.
    */
  private def mmrRound(prev: String, next: String, rank: Int): String =
    s"""ms_$next AS (SELECT p.query_id, p.doc_id,
       |    max(CAST(list_dot_product(p.dc, s.dc) AS BIGINT)) AS ms
       |  FROM pool p JOIN $prev s USING (query_id)
       |  GROUP BY 1, 2),
       |c_$next AS (SELECT m.query_id, m.doc_id, p.dc, p.rel,
       |    7 * p.rel - 3 * m.ms AS score_x10
       |  FROM ms_$next m
       |  JOIN pool p ON p.query_id = m.query_id AND p.doc_id = m.doc_id
       |  WHERE NOT EXISTS (SELECT 1 FROM $prev x
       |    WHERE x.query_id = m.query_id AND x.doc_id = m.doc_id)),
       |p_$next AS (SELECT query_id, doc_id, dc, rel, $rank AS mmr_rank,
       |    score_x10
       |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY score_x10 DESC, doc_id) AS rn FROM c_$next)
       |  WHERE rn = 1),
       |$next AS MATERIALIZED (
       |  SELECT * FROM $prev UNION ALL SELECT * FROM p_$next)""".stripMargin

  private val oraclesBase: Map[String, String] = Map(
    // q308: q40's scored/ranked CTE at k=10, graded label gains, the
    // pinned 1/log2 micro weight list, and the closed-form IDCG off
    // the label histogram + weight prefix sums (1-based list index:
    // [pref][i+1] = W[i]).
    "q308_ndcg" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv,
        |           label AS lq
        |           FROM embeddings WHERE vec_id % 50 = 0),
        |c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv,
        |      label AS ld FROM embeddings),
        |scored AS (
        |  SELECT query_id, lq, neighbor_id, ld,
        |    round(list_cosine_similarity(qv, cv), 6) AS cos_sim
        |  FROM q, c WHERE query_id <> neighbor_id),
        |ranked AS (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS rank
        |  FROM scored),
        |g AS (SELECT query_id,
        |    CASE WHEN ld = lq THEN 7
        |         WHEN abs(ld - lq) = 1 THEN 1 ELSE 0 END AS gain,
        |    ([1000000, 630930, 500000, 430677, 386853, 356207,
        |      333333, 315465, 301030, 289065])[rank] AS w
        |  FROM ranked WHERE rank <= 10),
        |dcg AS (SELECT query_id, sum(gain * w) AS dcg_micro
        |  FROM g GROUP BY 1),
        |hist AS (SELECT label, count(*) AS c FROM embeddings GROUP BY 1),
        |ideal AS (
        |  SELECT q.query_id,
        |    least(10, hs.c - 1) AS a,
        |    least(10 - least(10, hs.c - 1),
        |      coalesce(hl.c, 0) + coalesce(hh.c, 0)) AS b
        |  FROM q
        |  JOIN hist hs ON hs.label = q.lq
        |  LEFT JOIN hist hl ON hl.label = q.lq - 1
        |  LEFT JOIN hist hh ON hh.label = q.lq + 1),
        |idcg AS (
        |  SELECT query_id,
        |    7 * ([0, 1000000, 1630930, 2130930, 2561607, 2948460,
        |          3304667, 3638000, 3953465, 4254495, 4543560])[a + 1]
        |    + ([0, 1000000, 1630930, 2130930, 2561607, 2948460,
        |        3304667, 3638000, 3953465, 4254495, 4543560])[a + b + 1]
        |    - ([0, 1000000, 1630930, 2130930, 2561607, 2948460,
        |        3304667, 3638000, 3953465, 4254495, 4543560])[a + 1]
        |      AS idcg_micro
        |  FROM ideal)
        |SELECT d.query_id, CAST(d.dcg_micro AS BIGINT) AS dcg_micro,
        |  CAST(i.idcg_micro AS BIGINT) AS idcg_micro,
        |  CAST(d.dcg_micro::HUGEINT * 1000000
        |    // nullif(i.idcg_micro, 0) AS BIGINT) AS ndcg_ppm
        |FROM dcg d JOIN idcg i ON i.query_id = d.query_id
        |ORDER BY d.query_id""".stripMargin,

    // q307: q60's code construction verbatim, integer rel dots, the
    // bounded top-20 pool, then 4 unrolled greedy rounds via mmrRound.
    "q307_mmr_rerank" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |qz AS (
         |  SELECT vec_id, v, list_min(v) AS mn,
         |    (list_max(v) - list_min(v)) / 255.0 AS s
         |  FROM e),
         |qc AS (
         |  SELECT vec_id,
         |    CASE WHEN s = 0 THEN list_transform(v, x -> 0)
         |         ELSE list_transform(v,
         |           x -> CAST(floor((x - mn) / s + 0.5) AS INTEGER))
         |    END AS codes
         |  FROM qz),
         |rel AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
         |    c.codes AS dc,
         |    CAST(list_dot_product(q.codes, c.codes) AS BIGINT) AS rel
         |  FROM qc q, qc c
         |  WHERE q.vec_id % 50 = 0 AND q.vec_id <> c.vec_id),
         |pool AS MATERIALIZED (
         |  SELECT query_id, doc_id, dc, rel FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY rel DESC, doc_id) AS rn FROM rel)
         |  WHERE rn <= 20),
         |s1 AS MATERIALIZED (
         |  SELECT query_id, doc_id, dc, rel, 1 AS mmr_rank,
         |    7 * rel AS score_x10
         |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY rel DESC, doc_id) AS rn FROM pool)
         |  WHERE rn = 1),
         |${mmrRound("s1", "s2", 2)},
         |${mmrRound("s2", "s3", 3)},
         |${mmrRound("s3", "s4", 4)},
         |${mmrRound("s4", "s5", 5)}
         |SELECT query_id, CAST(mmr_rank AS INTEGER) AS mmr_rank,
         |  doc_id, CAST(rel AS BIGINT) AS rel_dot,
         |  CAST(score_x10 AS BIGINT) AS score_x10
         |FROM s5 ORDER BY query_id, mmr_rank""".stripMargin,
    // q188: identical integer fixed-point distances; top-5 via
    // row_number over the same (d2, t_id) order; the vote argmax via
    // the same (n DESC, label) order.
    "q188_knn_classify" ->
      s"""WITH $knnOracleCtes
        |SELECT q_id AS vec_id, q_label AS true_label,
        |  t_label AS pred_label, CAST(n AS BIGINT) AS n_votes,
        |  t_label = q_label AS correct
        |FROM pick WHERE rp = 1 ORDER BY vec_id""".stripMargin,

    // q266: q188's whole chain re-run as CTEs, then the confusion
    // rollup with zero-guarded integer-micros metrics.
    "q266_knn_eval" ->
      s"""WITH $knnOracleCtes,
        |per AS MATERIALIZED (
        |  SELECT q_label AS true_label, t_label AS pred_label
        |  FROM pick WHERE rp = 1),
        |spine AS (
        |  SELECT DISTINCT true_label AS label FROM per
        |  UNION SELECT DISTINCT pred_label FROM per),
        |m AS (
        |  SELECT s.label,
        |    (SELECT count(*) FROM per
        |      WHERE true_label = s.label) AS n_true,
        |    (SELECT count(*) FROM per
        |      WHERE pred_label = s.label) AS n_pred,
        |    (SELECT count(*) FROM per WHERE true_label = s.label
        |      AND pred_label = s.label) AS tp
        |  FROM spine s)
        |SELECT CAST(label AS INTEGER) AS label,
        |  CAST(n_true AS BIGINT) AS n_true,
        |  CAST(n_pred AS BIGINT) AS n_pred,
        |  CAST(tp AS BIGINT) AS tp,
        |  CAST(CASE WHEN n_pred = 0 THEN 0
        |    ELSE tp * 1000000 // n_pred END AS BIGINT)
        |    AS precision_micros,
        |  CAST(CASE WHEN n_true = 0 THEN 0
        |    ELSE tp * 1000000 // n_true END AS BIGINT)
        |    AS recall_micros,
        |  CAST(CASE WHEN n_true + n_pred = 0 THEN 0
        |    ELSE 2 * tp * 1000000 // (n_true + n_pred) END AS BIGINT)
        |    AS f1_micros
        |FROM m ORDER BY label""".stripMargin,
    // q131: list_reduce folds left-to-right exactly like Spark's
    // aggregate (the q56 precedent); (0+x1) == x1 in IEEE, so the
    // differing fold seeds agree bit-for-bit.
    "q131_vector_stats" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
        |           FROM embeddings)
        |SELECT vec_id,
        |  CAST(len(v) AS BIGINT) AS dim,
        |  round(sqrt(list_reduce(list_transform(v, x -> x * x),
        |    (a, b) -> a + b)), 6) AS l2,
        |  CAST(len(list_filter(v, x -> x > 0)) AS BIGINT) AS n_pos,
        |  round(list_reduce(v, (a, b) -> a + b) / len(v), 6) AS mean,
        |  len(list_filter(v, x -> abs(x) > 2.0)) > 0 AS has_outlier
        |FROM e ORDER BY vec_id""".stripMargin,

    "q40_topk_brute_force" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        |           FROM embeddings WHERE vec_id % 50 = 0),
        |c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
        |      FROM embeddings),
        |scored AS (
        |  SELECT query_id, neighbor_id,
        |    round(list_cosine_similarity(qv, cv), 6) AS cos_sim
        |  FROM q, c WHERE query_id <> neighbor_id),
        |ranked AS (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS rank
        |  FROM scored)
        |SELECT query_id, neighbor_id, cos_sim, rank FROM ranked
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    "q41_embedding_near_dup" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
        |           FROM embeddings WHERE vec_id % 4 = 0)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
        |FROM e a, e b
        |WHERE a.vec_id < b.vec_id
        |  AND round(list_cosine_similarity(a.v, b.v), 6) >= 0.42
        |ORDER BY id_a, id_b""".stripMargin,

    // mirrors q56LshTopkPortable stage by stage: md5 plane components →
    // bucket bits → multi-probe (exact bucket + single-bit flips) →
    // bucket equi-join → rounded cosine → (cos desc, id) ranking
    "q56_lsh_topk_portable" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
         |           FROM embeddings),
         |b AS (SELECT vec_id, v, (${bucketSql(4)})::BIGINT AS bucket
         |      FROM e),
         |q AS (SELECT vec_id AS query_id, v AS qv, bucket AS b0
         |      FROM b WHERE vec_id % 50 = 0),
         |qp AS (SELECT query_id, qv,
         |         CASE WHEN j = 0 THEN b0
         |              ELSE xor(b0, 1::BIGINT << (j - 1)) END AS bucket
         |       FROM q, range(0, 4) AS t(j)),
         |scored AS (
         |  SELECT DISTINCT qp.query_id, c.vec_id AS neighbor_id,
         |    round(list_cosine_similarity(qp.qv, c.v), 6) AS cos_sim
         |  FROM b c JOIN qp USING (bucket)
         |  WHERE qp.query_id <> c.vec_id),
         |ranked AS (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS rank
         |  FROM scored)
         |SELECT query_id, neighbor_id, cos_sim, rank FROM ranked
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // mirrors q60QuantizedTopk op-for-op: floor(+0.5) codes, the same
    // closed-form norms, and the algebraic pair formula in the same
    // association order — the integer code dot is exact in double, so
    // every intermediate is bit-identical across engines
    "q60_quantized_topk" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |qz AS (
        |  SELECT vec_id, v, len(v) AS n, list_min(v) AS mn,
        |    (list_max(v) - list_min(v)) / 255.0 AS s
        |  FROM e),
        |qc AS (
        |  SELECT vec_id, n, mn, s,
        |    CASE WHEN s = 0 THEN list_transform(v, x -> 0)
        |         ELSE list_transform(v,
        |           x -> CAST(floor((x - mn) / s + 0.5) AS INTEGER))
        |    END AS codes
        |  FROM qz),
        |qs AS (
        |  SELECT vec_id, n, mn, s, codes,
        |    list_sum(codes) AS sumc,
        |    list_sum(list_transform(codes, c -> c * c)) AS sd
        |  FROM qc),
        |qn AS (
        |  SELECT vec_id, n, mn, s, codes, sumc,
        |    sqrt(n * mn * mn + 2.0 * mn * s * sumc + s * s * sd) AS nrm
        |  FROM qs),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    round((q.n * q.mn * c.mn + q.mn * c.s * c.sumc
        |           + c.mn * q.s * q.sumc
        |           + q.s * c.s * list_dot_product(q.codes, c.codes))
        |          / (q.nrm * c.nrm), 6) AS cos_sim
        |  FROM qn q, qn c
        |  WHERE q.vec_id % 50 = 0 AND q.vec_id <> c.vec_id
        |    AND q.nrm > 0 AND c.nrm > 0),
        |ranked AS (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS rank
        |  FROM scored)
        |SELECT query_id, neighbor_id, cos_sim, rank FROM ranked
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    // q69: q56's md5 bucket construction with the candidate probe side
    // restricted to the new batch (vec_id%3=0) — by definition the
    // incremental operator's contract: full-corpus bucketed near-dup
    // pairs that touch the batch
    "q69_embedding_incremental" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
         |           FROM embeddings),
         |b AS (SELECT vec_id, v, (${bucketSql(4)})::BIGINT AS bucket
         |      FROM e),
         |cand AS (
         |  SELECT DISTINCT least(b1.vec_id, b2.vec_id) AS id_a,
         |         greatest(b1.vec_id, b2.vec_id) AS id_b
         |  FROM b b1 JOIN b b2 USING (bucket)
         |  WHERE b1.vec_id <> b2.vec_id AND b1.vec_id % 3 = 0),
         |scored AS (
         |  SELECT c.id_a, c.id_b,
         |    round(list_cosine_similarity(x.v, y.v), 6) AS cos_sim
         |  FROM cand c JOIN e x ON c.id_a = x.vec_id
         |              JOIN e y ON c.id_b = y.vec_id)
         |SELECT id_a, id_b, cos_sim FROM scored
         |WHERE cos_sim >= 0.42 ORDER BY id_a, id_b""".stripMargin,

    // mirrors q87SemDedup stage by stage: md5 centroids → rounded-
    // cosine argmax assignment carrying the winner's cosine (the
    // election key) → the EXISTS drop rule (any earlier item in the
    // (centroid_cos, id) order within threshold) → per-vector kept flag
    "q87_semdedup" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |cent AS (
        |  SELECT CAST(c AS INTEGER) AS centroid_id,
        |    list_transform(range(0, 64), d ->
        |      ((('0x' || substr(md5(CAST(c AS VARCHAR) || ':' || d), 1, 8))::BIGINT
        |        % 10001) / 5000.0 - 1.0)) AS cvec
        |  FROM range(0, 8) t(c)),
        |a0 AS (
        |  SELECT e.vec_id, e.v, cent.centroid_id,
        |    round(list_cosine_similarity(e.v, cent.cvec), 6) AS ccos,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY round(list_cosine_similarity(e.v, cent.cvec), 6) DESC,
        |               cent.centroid_id) AS rn
        |  FROM e CROSS JOIN cent),
        |assigned AS (SELECT vec_id, v, centroid_id, ccos FROM a0 WHERE rn = 1),
        |dropped AS (
        |  SELECT DISTINCT b.vec_id
        |  FROM assigned a JOIN assigned b USING (centroid_id)
        |  WHERE (a.ccos < b.ccos OR (a.ccos = b.ccos AND a.vec_id < b.vec_id))
        |    AND round(list_cosine_similarity(a.v, b.v), 6) >= 0.42)
        |SELECT a.vec_id, a.centroid_id, a.ccos AS centroid_cos,
        |  (d.vec_id IS NULL) AS kept
        |FROM assigned a LEFT JOIN dropped d ON a.vec_id = d.vec_id
        |ORDER BY a.vec_id""".stripMargin,

    // mirrors q65IvfPortable stage by stage: md5 centroid components
    // (same "c:d" hash string as Spark's portableComponent) → rounded-
    // cosine argmax assignment (ties to lowest centroid_id) → nProbe=3
    // probe selection per query → inverted-list candidate scan →
    // (cos desc, id) ranking, with each neighbor's centroid_id carried
    // through so the assignment stage is checked directly
    "q65_ivf_portable" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |cent AS (
        |  SELECT CAST(c AS INTEGER) AS centroid_id,
        |    list_transform(range(0, 64), d ->
        |      ((('0x' || substr(md5(CAST(c AS VARCHAR) || ':' || d), 1, 8))::BIGINT
        |        % 10001) / 5000.0 - 1.0)) AS cvec
        |  FROM range(0, 8) t(c)),
        |a0 AS (
        |  SELECT e.vec_id, e.v, cent.centroid_id,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY round(list_cosine_similarity(e.v, cent.cvec), 6) DESC,
        |               cent.centroid_id) AS rn
        |  FROM e CROSS JOIN cent),
        |assigned AS (SELECT vec_id, v, centroid_id FROM a0 WHERE rn = 1),
        |q0 AS (
        |  SELECT e.vec_id AS query_id, e.v AS qv, cent.centroid_id,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY round(list_cosine_similarity(e.v, cent.cvec), 6) DESC,
        |               cent.centroid_id) AS rn
        |  FROM e CROSS JOIN cent WHERE e.vec_id % 50 = 0),
        |probes AS (SELECT query_id, qv, centroid_id FROM q0 WHERE rn <= 3),
        |scored AS (
        |  SELECT p.query_id, a.vec_id AS neighbor_id,
        |    round(list_cosine_similarity(p.qv, a.v), 6) AS cos_sim,
        |    a.centroid_id
        |  FROM probes p JOIN assigned a USING (centroid_id)
        |  WHERE p.query_id <> a.vec_id),
        |ranked AS (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS rank
        |  FROM scored)
        |SELECT query_id, neighbor_id, cos_sim, centroid_id, rank FROM ranked
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // q66: the q65 construction with the assignment CTE probed by TWO
    // disjoint tagged query batches — the batches share one `assigned`
    // (the index), mirroring the Spark side's build-once checkpoint;
    // query sets are disjoint so ranking partitions by query_id alone
    "q66_ivf_index_reuse" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |cent AS (
        |  SELECT CAST(c AS INTEGER) AS centroid_id,
        |    list_transform(range(0, 64), d ->
        |      ((('0x' || substr(md5(CAST(c AS VARCHAR) || ':' || d), 1, 8))::BIGINT
        |        % 10001) / 5000.0 - 1.0)) AS cvec
        |  FROM range(0, 8) t(c)),
        |a0 AS (
        |  SELECT e.vec_id, e.v, cent.centroid_id,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY round(list_cosine_similarity(e.v, cent.cvec), 6) DESC,
        |               cent.centroid_id) AS rn
        |  FROM e CROSS JOIN cent),
        |assigned AS (SELECT vec_id, v, centroid_id FROM a0 WHERE rn = 1),
        |qb AS (
        |  SELECT CASE WHEN vec_id % 50 = 0 THEN 'a' ELSE 'b' END AS batch,
        |    vec_id AS query_id, v AS qv
        |  FROM e WHERE vec_id % 50 = 0 OR vec_id % 50 = 25),
        |p0 AS (
        |  SELECT qb.batch, qb.query_id, qb.qv, cent.centroid_id,
        |    row_number() OVER (PARTITION BY qb.query_id
        |      ORDER BY round(list_cosine_similarity(qb.qv, cent.cvec), 6) DESC,
        |               cent.centroid_id) AS rn
        |  FROM qb CROSS JOIN cent),
        |probes AS (SELECT batch, query_id, qv, centroid_id FROM p0 WHERE rn <= 3),
        |scored AS (
        |  SELECT p.batch, p.query_id, a.vec_id AS neighbor_id,
        |    round(list_cosine_similarity(p.qv, a.v), 6) AS cos_sim,
        |    a.centroid_id
        |  FROM probes p JOIN assigned a USING (centroid_id)
        |  WHERE p.query_id <> a.vec_id),
        |ranked AS (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS rank
        |  FROM scored)
        |SELECT query_id, neighbor_id, cos_sim, centroid_id, rank, batch
        |FROM ranked
        |WHERE rank <= 5 ORDER BY batch, query_id, rank""".stripMargin,

    // q80: codebook entry p = j·ks + c fed to the same "p:d" md5
    // component; dist² = ip(s,s)+ip(c,c)−2·ip(s,c) rounded BEFORE the
    // argmin (ties → lowest code); ADC partials as DECIMAL(18,6) so
    // the m-way sum is exact; (adc_dot desc, id) ranking
    "q80_pq_topk" ->
      """WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v0 FROM embeddings),
        |e AS (
        |  SELECT vec_id, list_transform(v0,
        |    x -> x / sqrt(list_inner_product(v0, v0))) AS v
        |  FROM e0),
        |books AS (
        |  SELECT CAST(id // 8 AS INTEGER) AS j, CAST(id % 8 AS INTEGER) AS c,
        |    list_transform(range(0, 16), d ->
        |      ((('0x' || substr(md5(CAST(id AS VARCHAR) || ':' || d), 1, 8))::BIGINT
        |        % 10001) / 5000.0 - 1.0)) AS cvec
        |  FROM range(0, 32) t(id)),
        |subs AS (
        |  SELECT vec_id, CAST(j AS INTEGER) AS j,
        |    v[j * 16 + 1 : j * 16 + 16] AS s
        |  FROM e, range(0, 4) t(j)),
        |dist AS (
        |  SELECT vec_id, j, c,
        |    round(list_inner_product(s, s) + list_inner_product(cvec, cvec)
        |      - 2.0 * list_inner_product(s, cvec), 6) AS d2
        |  FROM subs JOIN books USING (j)),
        |codes AS (
        |  SELECT vec_id, j, c AS code FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id, j
        |      ORDER BY d2, c) AS rn FROM dist)
        |  WHERE rn = 1),
        |q AS (
        |  SELECT vec_id AS query_id, CAST(j AS INTEGER) AS j,
        |    v[j * 16 + 1 : j * 16 + 16] AS qs
        |  FROM e, range(0, 4) t(j) WHERE vec_id % 50 = 0),
        |lut AS (
        |  SELECT query_id, j, c AS code,
        |    CAST(round(list_inner_product(qs, cvec), 6) AS DECIMAL(18,6)) AS pdot
        |  FROM q JOIN books USING (j)),
        |sc AS (
        |  SELECT query_id, vec_id AS neighbor_id,
        |    CAST(sum(pdot) AS DOUBLE) AS adc_dot
        |  FROM codes JOIN lut USING (j, code)
        |  WHERE query_id <> vec_id GROUP BY 1, 2),
        |ranked AS (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY adc_dot DESC, neighbor_id) AS INTEGER) AS rank
        |  FROM sc)
        |SELECT query_id, neighbor_id, adc_dot, rank FROM ranked
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // q82: q65's rounded-cosine list assignment + q80's codebook/LUT
    // machinery applied to RESIDUALS v − c, score = q·c + Σ LUT —
    // both terms DECIMAL(18,6), summed exactly
    "q82_ivfpq_topk" ->
      """WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v0 FROM embeddings),
        |e AS (
        |  SELECT vec_id, list_transform(v0,
        |    x -> x / sqrt(list_inner_product(v0, v0))) AS v
        |  FROM e0),
        |cent AS (
        |  SELECT CAST(c AS INTEGER) AS centroid_id,
        |    list_transform(range(0, 64), d ->
        |      ((('0x' || substr(md5(CAST(c AS VARCHAR) || ':' || d), 1, 8))::BIGINT
        |        % 10001) / 5000.0 - 1.0)) AS cvec
        |  FROM range(0, 8) t(c)),
        |books AS (
        |  SELECT CAST(id // 8 AS INTEGER) AS j, CAST(id % 8 AS INTEGER) AS c,
        |    list_transform(range(0, 16), d ->
        |      ((('0x' || substr(md5(CAST(id AS VARCHAR) || ':' || d), 1, 8))::BIGINT
        |        % 10001) / 5000.0 - 1.0)) AS cvec
        |  FROM range(0, 32) t(id)),
        |a0 AS (
        |  SELECT e.vec_id, e.v, cent.centroid_id, cent.cvec,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY round(list_cosine_similarity(e.v, cent.cvec), 6) DESC,
        |               cent.centroid_id) AS rn
        |  FROM e CROSS JOIN cent),
        |assigned AS (
        |  SELECT vec_id, centroid_id,
        |    list_transform(range(1, 65), i -> v[i] - cvec[i]) AS r
        |  FROM a0 WHERE rn = 1),
        |subs AS (
        |  SELECT vec_id, centroid_id, CAST(j AS INTEGER) AS j,
        |    r[j * 16 + 1 : j * 16 + 16] AS s
        |  FROM assigned, range(0, 4) t(j)),
        |dist AS (
        |  SELECT vec_id, centroid_id, j, c,
        |    round(list_inner_product(s, s) + list_inner_product(cvec, cvec)
        |      - 2.0 * list_inner_product(s, cvec), 6) AS d2
        |  FROM subs JOIN books USING (j)),
        |codes AS (
        |  SELECT vec_id AS neighbor_id, centroid_id, j, c AS code FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id, j
        |      ORDER BY d2, c) AS rn FROM dist)
        |  WHERE rn = 1),
        |qv AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id % 50 = 0),
        |p0 AS (
        |  SELECT q.query_id, q.qv, cent.centroid_id, cent.cvec,
        |    row_number() OVER (PARTITION BY q.query_id
        |      ORDER BY round(list_cosine_similarity(q.qv, cent.cvec), 6) DESC,
        |               cent.centroid_id) AS rn
        |  FROM qv q CROSS JOIN cent),
        |probes AS (
        |  SELECT query_id, centroid_id,
        |    CAST(round(list_inner_product(qv, cvec), 6) AS DECIMAL(18,6)) AS qc
        |  FROM p0 WHERE rn <= 3),
        |qsubs AS (
        |  SELECT query_id, CAST(j AS INTEGER) AS j,
        |    qv[j * 16 + 1 : j * 16 + 16] AS qs
        |  FROM qv, range(0, 4) t(j)),
        |lut AS (
        |  SELECT query_id, j, c AS code,
        |    CAST(round(list_inner_product(qs, cvec), 6) AS DECIMAL(18,6)) AS pdot
        |  FROM qsubs JOIN books USING (j)),
        |sc AS (
        |  SELECT query_id, neighbor_id,
        |    CAST(min(qc) + sum(pdot) AS DOUBLE) AS adc_dot
        |  FROM codes
        |  JOIN probes USING (centroid_id)
        |  JOIN lut USING (query_id, j, code)
        |  WHERE query_id <> neighbor_id GROUP BY 1, 2),
        |ranked AS (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY adc_dot DESC, neighbor_id) AS INTEGER) AS rank
        |  FROM sc)
        |SELECT query_id, neighbor_id, adc_dot, rank FROM ranked
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
  )
}
