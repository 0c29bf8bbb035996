package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for the LLM-data-pipeline surface
  * (BASELINE.json north_star): language id, quality scoring, token
  * counting, fingerprinting. All built from codegen'd built-ins so they
  * run inside whole-stage codegen over 100 TB of documents — no UDFs,
  * no driver involvement.
  */
object TextAnalysis {

  /** Whitespace token count. Empty / null-safe: '' → 0 (Spark's
    * split("") yields [""], so count non-empty tokens explicitly).
    */
  def tokenCount(text: Column): Column =
    size(filter(split(trim(text), "\\s+"), t => t =!= ""))

  /** BPE-ish subword count estimate: word-piece regex split on
    * letter-runs / digit-runs / single punctuation — the classic
    * GPT-2-style pre-tokenizer shape, as a cheap token estimator.
    */
  def subwordCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"), lit(0)))

  /** Stopword-hit count for one language's marker list (word-boundary,
    * case-insensitive). Counts TOTAL occurrences.
    */
  private def markerHits(text: Column, markers: Seq[String]): Column = {
    val pat = markers.mkString("(?i)\\b(", "|", ")\\b")
    size(regexp_extract_all(text, lit(pat), lit(0)))
  }

  /** Language markers: tiny per-language function-word lists — the
    * classic cheap n-gram/stopword heuristic. Deliberately small and
    * deterministic so the DuckDB oracle can replicate it.
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "it"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une", "que", "pas"),
    "es" -> Seq("el", "los", "las", "es", "una", "que", "por", "con"))

  /** Language-ID heuristic: argmax of marker hits; 'und' when no marker
    * fires. Ties break by list order (en > de > fr > es) via greatest-of
    * structs, replicable in SQL.
    */
  def langId(text: Column): Column = {
    // score structs: (hits, rank) — greatest() picks max hits, and on a
    // tie the LOWER rank (listed-first language) must win, so use
    // negative rank as secondary.
    val scored = langMarkers.zipWithIndex.map { case ((lang, ms), i) =>
      struct(markerHits(text, ms).as("hits"),
        lit(-i).as("negrank"), lit(lang).as("lang"))
    }
    val best = greatest(scored: _*)
    when(best.getField("hits") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  /** Quality score in [0,1]: blend of length band, alpha ratio,
    * punctuation-run absence, and stopword presence — the standard
    * C4/Gopher-style cheap filters, deterministic and SQL-replicable.
    * Returns a double rounded to 4 decimals (oracle-stable).
    */
  def qualityScore(text: Column): Column = {
    val len = length(text).cast("double")
    val nAlpha = (len - length(regexp_replace(text, "[A-Za-z]", ""))).cast("double")
    val alphaRatio = when(len > 0, nAlpha / len).otherwise(lit(0.0))
    val lenScore = when(len >= 200 && len <= 20000, lit(1.0))
      .when(len >= 50, lit(0.5)).otherwise(lit(0.0))
    val badPunct = when(text.rlike("[!?.]{3,}|#{2,}|\\{|\\}"), lit(0.0))
      .otherwise(lit(1.0))
    val stopScore = when(markerHits(text, langMarkers.head._2) >= 2, lit(1.0))
      .otherwise(lit(0.0))
    round((alphaRatio + lenScore + badPunct + stopScore) / 4.0, 4)
  }

  /** [[qualityScore]] in floor-fixed-point integer MICROS — the form
    * that can feed FURTHER arithmetic (means, sums, thresholds)
    * without cross-engine drift: floor of an identical IEEE double is
    * bit-deterministic, whereas round(double, 4) splits engines when a
    * score lands on a decimal boundary (q99's sf0.1 mean surfaced
    * exactly that). Same components, scaled by 250000 (= 1e6/4).
    */
  def qualityMicros(text: Column): Column = {
    val len = length(text).cast("double")
    val nAlpha = (len - length(regexp_replace(text, "[A-Za-z]", ""))).cast("double")
    val alphaRatio = when(len > 0, nAlpha / len).otherwise(lit(0.0))
    val lenScore = when(len >= 200 && len <= 20000, lit(1.0))
      .when(len >= 50, lit(0.5)).otherwise(lit(0.0))
    val badPunct = when(text.rlike("[!?.]{3,}|#{2,}|\\{|\\}"), lit(0.0))
      .otherwise(lit(1.0))
    val stopScore = when(markerHits(text, langMarkers.head._2) >= 2, lit(1.0))
      .otherwise(lit(0.0))
    floor((alphaRatio + lenScore + badPunct + stopScore) * 250000)
      .cast("long")
  }

  /** Document fingerprint: 64-bit hash of the normalized text
    * (lowercase, collapse whitespace) — xxhash64 is Spark-native and
    * codegen'd. For cross-engine (oracle) checks use [[fingerprintMd5]].
    */
  def fingerprint(text: Column): Column =
    xxhash64(normalizeText(text))

  /** md5 fingerprint of normalized text — byte-identical in DuckDB. */
  def fingerprintMd5(text: Column): Column =
    md5(normalizeText(text))

  /** Normalization used by all fingerprint/dedup ops: lowercase,
    * collapse runs of whitespace to single spaces, trim.
    */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  /** TextRank keyword scoring — weighted PageRank over the word
    * co-occurrence graph (Mihalcea & Tarau 2004): nodes are tokens,
    * undirected edges are adjacent-pair counts with support ≥
    * `minPairCount` (both directions merged, self-loops dropped), and
    * `iterations` rounds of PR(i) = (1−d) + d·Σ_j w_ij/S_j·PR(j) run
    * as DataFrame joins — each round one shuffle join of the edge list
    * against the current score vector plus one aggregate, the same
    * iterative-operator shape as connected components (dead per-round
    * checkpoints dropped via [[graft.operators.Checkpoints]]).
    * Scores are carried as INTEGER MICROS (pr₀ = 1 000 000; each
    * round's edge contribution is the exact integer division
    * (pr·w) div sumw, and the damped update is
    * base6 + (d6·Σcontrib) div 1e6 with d6 = damping·1e6): every
    * arithmetic step is integer-exact, so the fixpoint trajectory is
    * bit-identical in ANY engine and under ANY aggregation order —
    * stronger than the earlier round(pr, 6) pinning, whose
    * boundary behavior was engine-dependent (round(x, n) on doubles
    * is not portable between Spark and DuckDB when the rounded value
    * feeds further arithmetic). That is what makes a fully UNROLLED
    * SQL oracle possible. The returned `pr` column is the micros
    * long; divide by 1e6 for the conventional score.
    * Node set = edge endpoints, so no isolated nodes exist and the
    * neighbor sum is never null.
    */
  def textRank(
      df: org.apache.spark.sql.DataFrame,
      textCol: String,
      minPairCount: Int,
      iterations: Int,
      damping: Double = 0.85): org.apache.spark.sql.DataFrame = {
    require(iterations >= 1 && damping > 0 && damping < 1)
    def toks = filter(split(normalizeText(col(textCol)), " "), t => t =!= "")
    val pairs = df.select(toks.as("__t"))
      .filter(size(col("__t")) >= 2)
      .select(explode(transform(
        sequence(lit(1), size(col("__t")) - 1),
        i => struct(element_at(col("__t"), i).as("a"),
          element_at(col("__t"), i + 1).as("b")))).as("__p"))
      .select(col("__p.a").as("a"), col("__p.b").as("b"))
      .filter(col("a") =!= col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("c"))
      .filter(col("c") >= minPairCount)
    // symmetrize: w(a,b) = c(a,b) + c(b,a), kept in BOTH directions
    val edges = pairs.unionByName(
        pairs.select(col("b").as("a"), col("a").as("b"), col("c")))
      .groupBy("a", "b").agg(sum(col("c")).as("w"))
      .localCheckpoint(true)
    val degrees = edges.groupBy(col("a").as("node"))
      .agg(sum(col("w")).as("sumw"))
    val d6 = math.round(damping * 1e6)
    val base6 = 1000000L - d6
    var pr = degrees.select(col("node"), lit(1000000L).as("pr"))
      .localCheckpoint(true)
    for (_ <- 1 to iterations) {
      val prev = pr
      val contrib = edges
        .join(degrees.withColumnRenamed("node", "a"), Seq("a"))
        .join(prev.withColumnRenamed("node", "a"), Seq("a"))
        .select(col("b").as("node"),
          expr("(pr * w) div sumw").as("__c6"))
      pr = contrib.groupBy("node")
        .agg(expr(s"$base6 + ($d6 * sum(__c6)) div 1000000").as("pr"))
        .localCheckpoint(true)
      Checkpoints.drop(prev)
    }
    val out = pr
    Checkpoints.drop(edges)
    out
  }

  /** Heavy-hitter vocabulary by sketch-prune-then-exact-recount — the
    * 100 TB alternative to [[vocabTopK]]'s full vocabulary aggregate:
    * a [[graft.functions.MisraGries]] sketch pass first reduces the
    * token stream to ≤ `sketchCounters` candidate keys WITHOUT a
    * vocabulary-wide shuffle (one bounded buffer per partition), the
    * candidate set broadcasts back, and only candidate tokens are
    * exact-counted and ranked. The result EQUALS the exact global
    * top-k whenever every true top-k token's count exceeds
    * n_tokens/(sketchCounters+1) — the MG guarantee; size
    * sketchCounters ≫ k·(n/cₖ) margin accordingly (here 2000 counters
    * for k=20 over a corpus whose top tokens are stopword-frequent).
    * The sketch's own counts are merge-order-dependent and are NEVER
    * reported — only its keys gate the exact recount.
    */
  def heavyHitterTokens(
      df: org.apache.spark.sql.DataFrame,
      textCol: String,
      k: Int,
      sketchCounters: Int): org.apache.spark.sql.DataFrame = {
    def toks = filter(split(normalizeText(col(textCol)), " "), t => t =!= "")
    val cand = df.select(toks.as("__t"))
      .agg(graft.functions.HeavyHitters.misraGries(col("__t"),
        sketchCounters).as("__mg"))
      .select(explode(map_keys(col("__mg"))).as("token"))
    df.select(explode(toks).as("token"))
      .join(broadcast(cand), Seq("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(k)
  }

  /** Gopher-style repetition FILTER (Rae et al. 2021 §A1.1) — the
    * accept/reject decision [[repetitionStats]]'s fractional metrics
    * only describe: per document, the raw integer counts behind three
    * repetition signals — most-frequent-word share, most-frequent-
    * bigram share, and the share of word occurrences belonging to
    * words repeated ≥ 2 times — plus a `pass` verdict taken at
    * integer percent thresholds. Every verdict is an integer
    * CROSS-MULTIPLICATION (top_n · 100 ≤ total_n · pct) — no
    * division, no doubles, no rounding — so the decision boundary is
    * engine-exact by construction (the "verdicts from unrounded
    * aggregates" rule, strengthened to no-floating-point-at-all).
    * Shape: two explode→count→per-doc aggregates (words, bigrams)
    * joined on the doc id — each one shuffle on (id, term) with
    * map-side combine, then one on id; nothing is corpus-global, so
    * the filter parallelizes per-document at any scale. Empty
    * documents (zero words after normalization) fail, matching the
    * reference behavior of dropping degenerate docs.
    */
  def repetitionFilter(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      topWordPctMax: Int = 20,
      topBigramPctMax: Int = 18,
      dupWordPctMax: Int = 60): org.apache.spark.sql.DataFrame = {
    def toks = filter(split(normalizeText(col(textCol)), " "), t => t =!= "")
    val words = df.select(col(idCol), explode(toks).as("w"))
      .groupBy(idCol, "w").agg(count(lit(1)).as("c"))
      .groupBy(idCol).agg(
        sum(col("c")).as("n_words"),
        max(col("c")).as("top_word_n"),
        sum(when(col("c") >= 2, col("c")).otherwise(lit(0L)))
          .as("dup_word_n"))
    val bigramCounts = df.select(col(idCol).as("__id"), toks.as("__t"))
      .filter(size(col("__t")) >= 2)
      .select(col("__id"), explode(transform(
        sequence(lit(1), size(col("__t")) - 1),
        i => concat_ws(" ", element_at(col("__t"), i),
          element_at(col("__t"), i + 1)))).as("bg"))
      .groupBy("__id", "bg").agg(count(lit(1)).as("c"))
      .groupBy("__id").agg(
        sum(col("c")).as("n_bigrams"),
        max(col("c")).as("top_bigram_n"))
    df.select(col(idCol)).distinct()
      .join(words, Seq(idCol), "left")
      .join(bigramCounts.withColumnRenamed("__id", idCol), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("top_word_n"), lit(0L)).as("top_word_n"),
        coalesce(col("dup_word_n"), lit(0L)).as("dup_word_n"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("top_bigram_n"), lit(0L)).as("top_bigram_n"))
      .withColumn("pass",
        col("n_words") > 0 &&
          col("top_word_n") * 100 <= col("n_words") * topWordPctMax &&
          col("top_bigram_n") * 100 <= col("n_bigrams") * topBigramPctMax &&
          col("dup_word_n") * 100 <= col("n_words") * dupWordPctMax)
  }

  /** Fixed-size overlapping word-window chunking — the RAG/embedding
    * preprocessing step: chunk i of a document covers normalized-word
    * positions [i·stride, i·stride+chunkSize); a doc of ≤chunkSize
    * words is one chunk, otherwise ceil((n−chunkSize)/stride)+1 chunks
    * so the final window always reaches the last word (stride ≤
    * chunkSize also guarantees no window starts past it — no empty
    * chunks). Per-doc and shuffle-free by construction: split/explode/
    * slice are all codegen'd, and the word array crosses the Generate
    * boundary as a bound attribute, so the text is split at most twice
    * per doc (words + count) rather than once per derived column —
    * the interpreted-lambda fan-out trap (see wordShingles scaladoc)
    * doesn't apply because normalized text cannot contain empty
    * tokens, letting this skip the `filter` lambda entirely. (The one
    * parity edge that creates: an all-whitespace doc splits to [""] —
    * ONE empty "word" — in both Spark and DuckDB, and so still forms
    * exactly one chunk in both engines.)
    */
  def chunkWords(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      chunkSize: Int,
      stride: Int): org.apache.spark.sql.DataFrame = {
    require(chunkSize > 0 && stride > 0 && stride <= chunkSize,
      s"need 0 < stride <= chunkSize, got chunkSize=$chunkSize stride=$stride")
    val words = split(normalizeText(col(textCol)), " ")
    val nChunks = when(size(words) <= chunkSize, lit(1L))
      .otherwise(ceil((size(words) - lit(chunkSize)).cast("double") / stride)
        + 1)
    df.select(col(idCol), words.as("words"), nChunks.as("n_chunks"))
      .select(col(idCol), col("words"),
        explode(sequence(lit(0L), col("n_chunks") - 1)).as("chunk_idx"))
      .select(col(idCol), col("chunk_idx"),
        slice(col("words"), (col("chunk_idx") * stride + 1).cast("int"),
          lit(chunkSize)).as("chunk_words"))
      .select(col(idCol), col("chunk_idx"),
        size(col("chunk_words")).cast("bigint").as("n_chunk_words"),
        md5(concat_ws(" ", col("chunk_words"))).as("chunk_md5"))
  }

  /** Word n-gram shingles of the normalized text (distinct), via the
    * single-pass codegen expression
    * [[graft.functions.WordShingles]] — the interpreted higher-order
    * form it replaced (kept below as the parity reference) cost ~9.5 s
    * alone for 5000 sf0.1 docs and was re-evaluated per consumer.
    */
  def wordShingles(text: Column, n: Int): Column =
    graft.functions.WordShingles.wordShingles(text, n)

  /** The composable higher-order form [[wordShingles]] replaced —
    * retained (test-only) so WordShinglesParity in Md5MinHashSpec can
    * assert element-identical results on real corpora.
    */
  private[graft] def wordShinglesComposable(text: Column, n: Int): Column = {
    val toks = filter(split(normalizeText(text), " "), t => t =!= "")
    // start indices 0..size-n; empty array when the doc is shorter than n
    val starts = when(size(toks) >= n, sequence(lit(0), size(toks) - n))
      .otherwise(array().cast("array<int>"))
    array_distinct(transform(starts,
      i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
  }

  /** Corpus vocabulary statistics — the tokenizer-training input: per
    * normalized whitespace token, total occurrences and document
    * frequency, truncated to the global top-k by (n_total desc,
    * token). Shape: one explode, then Catalyst's one-distinct rewrite
    * plans TWO aggregations — the first map-side-combines on (token,
    * doc_id), so shuffle volume is one row per distinct (token, doc)
    * pair per partition (scales with document frequency, NOT with raw
    * token occurrences); the second collapses to one row per token.
    * The global top-k plans as TakeOrderedAndProject — a per-partition
    * heap merged on k rows, never a full global sort of the
    * vocabulary.
    */
  def vocabTopK(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      k: Int): org.apache.spark.sql.DataFrame = {
    val toks = df.select(col(idCol),
      explode(filter(split(normalizeText(col(textCol)), " "), t => t =!= ""))
        .as("token"))
    toks.groupBy("token")
      .agg(count(lit(1)).as("n_total"),
        countDistinct(col(idCol)).as("n_docs"))
      // (n_total, token) is a total order — the k-boundary is
      // engine-deterministic
      .orderBy(col("n_total").desc, col("token").asc)
      .limit(k)
  }

  /** BPE seed statistic (Sennrich et al. 2016) — the first merge step
    * of byte-pair-encoding tokenizer training: adjacent symbol-pair
    * frequencies over the word-frequency table. The most frequent pair
    * is the first merge a BPE trainer would perform; the top-k table
    * is what the training loop consumes each round.
    *
    * Scale: the corpus collapses to its DISTINCT-word frequency table
    * first (vocabulary-sized, map-side combined), so the pair explode
    * is bounded by Σ|word| over the VOCABULARY, not the corpus — the
    * reason BPE training is feasible at 100 TB at all. The final
    * global top-k is (n desc, pair asc) — a total order, so the k
    * boundary is engine-deterministic — and plans as
    * TakeOrderedAndProject, never a global sort.
    */
  def bpePairCounts(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      k: Int): org.apache.spark.sql.DataFrame = {
    val words = df.select(
      explode(filter(split(normalizeText(col(textCol)), " "), t => t =!= ""))
        .as("word"))
      .groupBy("word").agg(count(lit(1)).as("__wc"))
    words.filter(length(col("word")) >= 2)
      .select(col("__wc"),
        explode(transform(sequence(lit(1), length(col("word")) - 1),
          i => col("word").substr(i, lit(2)))).as("pair"))
      .groupBy("pair").agg(sum(col("__wc")).as("n"))
      .orderBy(col("n").desc, col("pair").asc)
      .limit(k)
  }

  /** BPE tokenizer TRAINING (Sennrich et al. 2016) — `merges` rounds
    * of: count adjacent symbol pairs over the vocabulary (weighted by
    * word frequency), pick the most frequent pair (ties (n desc, a,
    * b) — deterministic), and greedily merge it left-to-right inside
    * every word's symbol sequence. Returns the merge table
    * (round, pair_a, pair_b, n) — the artifact a BPE tokenizer ships.
    *
    * The greedy merge is an `aggregate` fold over each word's symbol
    * array: append the symbol, or replace the accumulator's tail when
    * (tail, symbol) is the elected pair — left-to-right non-overlap
    * exactly like the reference implementation ("aaa" + (a,a) →
    * ["aa","a"]), and a freshly merged symbol participates as the
    * LEFT side of later pairs in the same word naturally.
    *
    * Scale: all per-round work runs on the DISTINCT-word frequency
    * table (vocabulary-sized — the corpus is touched once, up front),
    * so a round is one map-side-combined pair aggregate + one
    * vocabulary map stage. The elected pair is a 1-row driver scalar
    * per round (control flow, like connectedComponents' convergence
    * probe — never data through the driver); per-round vocab states
    * are checkpointed and the dead predecessor dropped
    * ([[Checkpoints]]). The fold has no cross-engine SQL twin (no
    * general fold in DuckDB) → rows-only at the driver gate;
    * BpeSpec pins exact parity against an independent single-node
    * reference trainer.
    */
  def bpeTrain(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      merges: Int): org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    import org.apache.spark.sql.types._
    var vocab = df.select(
      explode(filter(split(normalizeText(col(textCol)), " "), t => t =!= ""))
        .as("word"))
      .groupBy("word").agg(count(lit(1)).as("wc"))
      .select(col("wc"),
        filter(split(col("word"), ""), s => s =!= "").as("symbols"))
      .localCheckpoint(true)
    val found = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    // per-round checkpoints are LAZY (round 19): the NEXT round's
    // argmax action materializes the fold as a side effect, so each
    // round costs ONE job instead of an eager-checkpoint job plus the
    // count (measured 40 → 21 jobs at merges = 20). The predecessor's
    // blocks are dropped only AFTER the argmax has executed — a lazy
    // checkpoint still reads its parent's blocks when it materializes,
    // and a truncated-lineage parent cannot be recomputed.
    var dead: org.apache.spark.sql.DataFrame = null
    try {
      var round = 1
      var exhausted = false
      while (round <= merges && !exhausted) {
        val top = vocab.filter(size(col("symbols")) >= 2)
          .select(col("wc"), explode(transform(
            sequence(lit(0), size(col("symbols")) - 2),
            i => struct(element_at(col("symbols"), i + 1).as("pa"),
              element_at(col("symbols"), i + 2).as("pb")))).as("p"))
          .groupBy(col("p.pa"), col("p.pb")).agg(sum(col("wc")).as("n"))
          .orderBy(col("n").desc, col("pa").asc, col("pb").asc)
          .limit(1)
          .collect()
        // vocab is materialized now; its predecessor can be released
        if (dead != null) { Checkpoints.drop(dead); dead = null }
        if (top.isEmpty) exhausted = true
        else {
          val (pa, pb, n) =
            (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
          found += ((round, pa, pb, n))
          val merged = pa + pb
          val next = vocab.select(col("wc"),
            aggregate(col("symbols"),
              array().cast(ArrayType(StringType)),
              (acc, s) => when(
                size(acc) > 0 && element_at(acc, -1) === pa && s === pb,
                concat(slice(acc, lit(1), size(acc) - 1), array(lit(merged))))
                .otherwise(concat(acc, array(s)))).as("symbols"))
            .localCheckpoint(false)
          dead = vocab
          vocab = next
          round += 1
        }
      }
    } finally {
      if (dead != null) Checkpoints.drop(dead)
      Checkpoints.drop(vocab)
    }
    import spark.implicits._
    found.toSeq.toDF("round", "pair_a", "pair_b", "n")
  }

  /** BPE SEGMENTATION — the serving side of [[bpeTrain]]: apply a
    * merge table to the corpus and report per-document token counts
    * under the REAL trained tokenizer (the statistic packing,
    * budgeting, and billing actually need — whitespace token counts
    * are only a proxy). Merges apply in round order with the same
    * greedy left-to-right fold as training, so a word's segmentation
    * is exactly what the trainer's final vocabulary state says.
    *
    * Scale: the merge table is k rows of CONTROL FLOW
    * (driver-collected, like the trainer's per-round argmax); all k
    * fold rounds run over the DISTINCT-word table, and the corpus is
    * touched twice — once to build that vocabulary, once for the
    * final word→n_tokens join + per-doc aggregate. Output: (idCol,
    * n_words, n_bpe_tokens) per document with ≥1 word.
    */
  def bpeSegment(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      merges: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.types._
    val ms = merges.orderBy("round").select("pair_a", "pair_b")
      .collect().map(r => (r.getString(0), r.getString(1)))
    val toks = df.select(col(idCol),
      explode(filter(split(normalizeText(col(textCol)), " "), t => t =!= ""))
        .as("word"))
    // unlike training (which must MATERIALIZE each round to count the
    // next round's pairs), serving needs no intermediate state: all k
    // folds chain into ONE projection over the distinct-word table —
    // each fold has a single consumer (the next fold), so CollapseProject
    // keeps the expression linear, and the whole segmentation is one
    // job instead of k driver-synchronous rounds (q91 measured
    // 4.51 → 4.36 s: the pair's cost is dominated by TRAINING's k
    // necessarily-materialized rounds, but serving pipelines that
    // segment with a FIXED merge table pay only this one job)
    val symbols = bpeSymbols(ms)
    val wordTokens = toks.select("word").distinct()
      .select(col("word"), size(symbols).cast("long").as("__nt"))
    toks.join(wordTokens, "word")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_words"), sum(col("__nt")).as("n_bpe_tokens"))
  }

  /** The BPE application fold over a `word` column: all merge rounds
    * chained into one linear expression (each fold has a single
    * consumer — the next fold — so CollapseProject keeps it one
    * projection). Shared by [[bpeSegment]] (token counts) and
    * [[bpeRoundtrip]] (the lossless-reassembly gate).
    */
  private def bpeSymbols(ms: Seq[(String, String)]): Column = {
    import org.apache.spark.sql.types._
    ms.foldLeft(
      filter(split(col("word"), ""), s => s =!= "")) { case (prev, (pa, pb)) =>
      val merged = pa + pb
      aggregate(prev,
        array().cast(ArrayType(StringType)),
        (acc, s) => when(
          size(acc) > 0 && element_at(acc, -1) === pa && s === pb,
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(merged))))
          .otherwise(concat(acc, array(s))))
    }
  }

  /** BPE ROUND-TRIP GATE — segmentation must be LOSSLESS: for every
    * distinct word of the normalized corpus, re-concatenating its BPE
    * symbols must reproduce the word exactly. Emits one global row
    * (n_words, n_roundtrip_ok, all_ok); the oracle derives n_words
    * independently (distinct normalized tokens in DuckDB) and pins
    * n_roundtrip_ok = n_words / all_ok = TRUE — so any symbol-dropping
    * or merge-ordering bug in the fold hash-fails the gate even
    * though DuckDB cannot run the BPE itself (the q254 oracle-pins-
    * the-definition pattern).
    */
  def bpeRoundtrip(
      df: DataFrame,
      idCol: String,
      textCol: String,
      merges: DataFrame): DataFrame = {
    val ms = merges.orderBy("round").select("pair_a", "pair_b")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    val words = df.select(
        explode(filter(split(normalizeText(col(textCol)), " "),
          t => t =!= "")).as("word"))
      .distinct()
    words
      .select(col("word"),
        (array_join(bpeSymbols(ms), "") === col("word")).as("__ok"))
      .agg(count(lit(1)).as("n_words"),
        sum(when(col("__ok"), 1L).otherwise(0L)).as("n_roundtrip_ok"))
      .select(col("n_words").cast("bigint").as("n_words"),
        col("n_roundtrip_ok").cast("bigint").as("n_roundtrip_ok"),
        (col("n_words") === col("n_roundtrip_ok")).as("all_ok"))
  }

  /** TF-IDF top-k terms per document — the classic keyword-extraction
    * / document-representation statistic. tf = raw occurrences of the
    * term in the doc, idf = ln(N / df) over distinct-doc frequency,
    * score = round(tf · idf, 6) (rounded BEFORE ranking so the k
    * boundary is engine-deterministic; ties broken by term).
    *
    * Shape: one explode feeds a (doc, term) count whose rows are
    * already distinct pairs, so document frequency is a second
    * aggregate over that frame — map-side-combined both times, shuffle
    * volume scales with distinct pairs. N is a one-row frame
    * broadcast into the score (never a driver action), and the top-k
    * per doc runs on the bounded-heap [[graft.plans.TopK.topKPerKey]]
    * operator — O(n log k), no per-doc sort. Output: (idCol, term,
    * tf, score).
    */
  def tfidfTopTerms(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int): DataFrame = {
    val toks = df.select(col(idCol),
      explode(filter(split(normalizeText(col(textCol)), " "), t => t =!= ""))
        .as("term"))
    // tf feeds both the document-frequency rollup and the score join;
    // unpinned, the tokenize+aggregate subtree runs twice (the
    // q125/q78 replanning pattern). Pin the aggregated (doc, term)
    // form — already the pruned shape — not the raw token explosion.
    val tf = toks.groupBy(idCol, "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = df.select(countDistinct(col(idCol)).as("__n"))
    val scored = tf.join(dfreq, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        round(col("tf") * log(col("__n").cast("double") / col("df")), 6))
      .drop("__n")
    graft.plans.TopK.topKPerKey(scored, Seq(idCol),
      Seq("score" -> false, "term" -> true), k)
      .select(col(idCol), col("term"), col("tf"), col("score"))
  }

  /** BM25 ranked retrieval for one tokenized query over the corpus —
    * the classic keyword-search scorer (Robertson/Okapi):
    *   score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·len/avgLen))
    * with idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)) (the
    * always-positive Lucene form). Returns the top-`n` docs as
    * (idCol, score).
    *
    * Scale shape: the query-term filter lands BEFORE the tf
    * aggregation, so the per-term frame carries only matching tokens;
    * doc length and corpus size/avg-length are aggregates (the last
    * two a one-row broadcast). Per-term partial scores are rounded to
    * 6 decimals and summed as DECIMAL — exact, order-independent
    * addition, so the result hash can't drift with partitioning (a
    * double Σ over shuffled rows has no defined association order).
    * The global top-n is an orderBy+limit → TakeOrderedAndProject
    * (per-partition heap, no full sort).
    */
  def bm25Search(
      df: DataFrame,
      idCol: String,
      textCol: String,
      queryTerms: Seq[String],
      n: Int,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "bm25Search requires at least one term")
    val toks = df.select(col(idCol),
      explode(filter(split(normalizeText(col(textCol)), " "), t => t =!= ""))
        .as("term"))
    // docLen feeds the corpus-stats row AND the score join; tf feeds
    // the df rollup AND the score join — pin both aggregated (small)
    // forms so the token explosion runs once per statistic, not once
    // per consumer (the q125/q78 replanning pattern; never pin the
    // explosion itself)
    val docLen = toks.groupBy(idCol).agg(count(lit(1)).as("len"))
      .localCheckpoint()
    val tf = toks.filter(col("term").isin(queryTerms: _*))
      .groupBy(idCol, "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val corpus = docLen.agg(count(lit(1)).as("__nd"),
      avg(col("len")).as("__avglen"))
    val perTerm = tf.join(dfreq, "term")
      .join(docLen, idCol)
      .crossJoin(broadcast(corpus))
      .withColumn("idf",
        log(lit(1.0) + (col("__nd") - col("df") + lit(0.5)) /
          (col("df") + lit(0.5))))
      .withColumn("part",
        round(col("idf") * col("tf") * (lit(k1) + 1.0) /
          (col("tf") + lit(k1) * (lit(1.0) - lit(b) +
            lit(b) * col("len") / col("__avglen"))), 6)
          .cast("decimal(18,6)"))
    perTerm.groupBy(idCol)
      .agg(sum(col("part")).cast("double").as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(n)
  }

  /** Shannon character entropy per document, in bits — the classic
    * gibberish/compressibility quality signal (low ≈ repetitive or
    * degenerate text, ~4.0-4.5 for natural English):
    *   H(d) = −Σ_c (n_c/n)·log2(n_c/n)
    * over the raw characters of the doc. Output: (idCol, n_chars,
    * entropy) with entropy rounded to 6 decimals.
    *
    * Shape: explode to (doc, char) counts (map-side combined; shuffle
    * rows bounded by docs × alphabet, NOT corpus length), doc totals
    * as a second aggregate joined back on the doc key (same
    * partitioning — no extra exchange), and the per-char terms
    * rounded to DECIMAL(18,9) before the final sum so the Σ is exact
    * and order-independent (a raw double sum over shuffled rows has
    * no defined association order and can flip the last bit).
    */
  def charEntropy(
      df: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    val chars = df.select(col(idCol),
      explode(filter(split(col(textCol), ""), c => c =!= "")).as("ch"))
    val counts = chars.groupBy(idCol, "ch").agg(count(lit(1)).as("c"))
    val totals = counts.groupBy(idCol).agg(sum(col("c")).as("n"))
    counts.join(totals, idCol)
      .withColumn("__p", col("c").cast("double") / col("n"))
      .withColumn("__term",
        round(-col("__p") * log2(col("__p")), 9).cast("decimal(18,9)"))
      .groupBy(idCol)
      .agg(first(col("n")).as("n_chars"),
        // nanos → micros by INTEGER half-up ((x+500) div 1000), double
        // only for the final exactly-determined micros/1e6: round(sum
        // AS DOUBLE, 6) hit a 6-dp boundary on 3 of 600k docs at sf0.1
        // (shortest-repr vs binary rounding split the engines), and a
        // decimal downcast is no better — DuckDB truncates where Spark
        // half-ups. Entropy is non-negative, so floor-div ≡ half-up.
        (expr("CAST((CAST(sum(__term) * 1000000000 AS DECIMAL(28,0)) " +
          "+ 500) DIV 1000 AS BIGINT)").cast("double") / 1000000.0)
          .as("entropy"))
  }

  /** C4/RefinedWeb-style LINE-level dedup: a line occurring in more
    * than `maxDocFreq` distinct documents is boilerplate (nav bars,
    * cookie banners, share buttons) and is removed from EVERY
    * document; each document is reassembled from its surviving lines
    * in original order. Output: (idCol, clean_text, n_kept).
    *
    * Shape: posexplode keeps each line's position; the document
    * frequency is one aggregate (map-side combined to distinct
    * (line, doc) pairs); boilerplate removal is a left-anti join on
    * the line; reassembly is one groupBy(doc) with a sort_array over
    * (pos, line) structs — per-doc, never a global sort. The
    * anti-join shuffles raw line text; at extreme line lengths key it
    * on a 128-bit digest instead (not done here: the oracle compares
    * exact strings, and 32-bit prefixes would risk dropping innocent
    * collided lines).
    *
    * DELIBERATE two-pass trade-off: the exploded `lines` subplan feeds
    * both the frequency aggregate and the anti-join probe side, so the
    * source is scanned and split twice. That is inherent to
    * frequency-based filtering unless the full line set is
    * materialized — and checkpointing every line of a 100 TB corpus
    * costs more than the second columnar scan it saves. Callers that
    * already hold `lines` in fast storage can pre-materialize and pass
    * it through a thin wrapper if the scan ever dominates.
    */
  def dedupLines(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      maxDocFreq: Int): org.apache.spark.sql.DataFrame = {
    // -1 limit: trailing empty lines survive the split, matching
    // DuckDB's string_split (an all-empty-line doc still counts them)
    val lines = df.select(col(idCol),
      posexplode(split(col(textCol), "\n", -1)).as(Seq("pos", "line")))
    val boilerplate = lines.groupBy("line")
      .agg(countDistinct(col(idCol)).as("__df"))
      .filter(col("__df") > maxDocFreq)
      .select("line")
    val kept = lines.join(boilerplate, Seq("line"), "left_anti")
    val rebuilt = kept.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_kept"),
        concat_ws("\n", transform(
          sort_array(collect_list(struct(col("pos"), col("line")))),
          s => s.getField("line"))).as("clean_text"))
    // docs whose every line was boilerplate come back empty, not absent
    df.select(col(idCol)).join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  /** Exact substring (token-span) dedup — the Lee et al. 2022
    * "Deduplicating Training Data" ExactSubstr operator, at token
    * granularity: every window of `spanLen` consecutive tokens that
    * occurs more than once in the corpus is removed from every
    * occurrence EXCEPT the first (first = minimal (doc, position),
    * engine-deterministic); a doc's surviving tokens are reassembled
    * in order. Output: (idCol, clean_text, n_kept) — docs fully
    * consumed by duplicated spans come back empty, not absent
    * (same contract as [[dedupLines]]).
    *
    * Scale shape: spans travel as md5 DIGESTS, never strings — the
    * heavy shuffle keys are fixed-width. First-occurrence election is
    * one aggregate (min over a (doc,pos) struct — no window over hot
    * span groups, whose size is unbounded for boilerplate), removal
    * is an equi-join back on the digest, coverage expansion explodes
    * only REMOVED span starts (spanLen× the duplicated region, not
    * the corpus), and reassembly is the per-doc sort_array pattern —
    * never a global sort. Suffix-automaton exactness over arbitrary
    * lengths (the paper's C++ suffix array) trades to fixed-length
    * windows here: a duplicated run of length ≥ spanLen is covered by
    * its duplicated windows, so whole duplicated regions are still
    * removed; only tails shorter than spanLen at region edges differ.
    */
  def spanDedup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      spanLen: Int): DataFrame = {
    require(spanLen >= 2, s"spanLen must be >= 2: $spanLen")
    // The token table feeds FOUR consumers (position explode, span
    // hashing — itself consumed twice — and the id spine), and Spark
    // reuses none of them (verified: 0 ReusedExchange, 4 parquet scans
    // — normalize+split+explode ran four times). Materialize the
    // tokenized form once; everything downstream derives from it.
    // spread first (round 19): the checkpoint otherwise pins the
    // one-row-group scan's SINGLE partition, and every downstream
    // explode — including the per-span md5 fan-out — stays one task
    val toks = graft.Tables.spread(df.select(col(idCol), col(textCol)))
      .select(col(idCol),
        filter(split(normalizeText(col(textCol)), " "), t => t =!= "")
          .as("__toks"))
      .localCheckpoint()
    val tokPos = toks.select(col(idCol),
      posexplode(col("__toks")).as(Seq("pos", "tok")))
    val spans = toks.select(col(idCol), posexplode(
        when(size(col("__toks")) >= spanLen,
          transform(sequence(lit(0), size(col("__toks")) - spanLen),
            i => md5(concat_ws(" ", slice(col("__toks"), i + 1, lit(spanLen))))))
          .otherwise(array().cast("array<string>")))
        .as(Seq("pos", "h")))
      .localCheckpoint()
    val firstOcc = spans.groupBy("h")
      .agg(min(struct(col(idCol), col("pos"))).as("__first"))
    val removedStarts = spans.join(firstOcc, "h")
      .filter(!(col(idCol) === col("__first")(idCol) &&
        col("pos") === col("__first")("pos")))
      .select(col(idCol), col("pos"))
    val covered = removedStarts
      .select(col(idCol),
        explode(sequence(col("pos"), col("pos") + spanLen - 1)).as("pos"))
      .distinct()
    val kept = tokPos.join(covered, Seq(idCol, "pos"), "left_anti")
    val rebuilt = kept.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ", transform(
          sort_array(collect_list(struct(col("pos"), col("tok")))),
          s => s.getField("tok"))).as("clean_text"))
    toks.select(col(idCol)).join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  /** DSIR-style importance weighting (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"), with unigram
    * features: each candidate doc is scored by the mean per-token
    * log-likelihood ratio between a TARGET corpus and the SOURCE
    * corpus,
    *   score(d) = (1/len(d)) Σ_t tf_d(t) · ln(p̂_T(t) / p̂_S(t))
    * with add-one-smoothed unigram estimates p̂(t) = (c(t)+1)/(N+V)
    * over the shared vocabulary V (distinct tokens of target ∪
    * source). High scores ≈ "looks like the target domain" — the
    * selection signal for importance resampling. Output: (idCol,
    * n_tokens, score) for every source doc, score rounded to 6.
    *
    * Scale shape: both corpora tokenize once into a tagged union;
    * per-term target/source counts are ONE conditional aggregate;
    * corpus totals and vocab size are a one-row broadcast; each
    * term's log-ratio is rounded to DECIMAL(18,9) so the per-doc Σ is
    * exact and order-independent (hash-stable); the term-stats join
    * keys on the term itself — a plain shuffle join that scales with
    * vocabulary, never a driver-side dictionary.
    */
  def dsirWeights(
      source: DataFrame,
      target: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    def toks(df: DataFrame, tag: Int) = df.select(col(idCol),
      explode(filter(split(normalizeText(col(textCol)), " "), t => t =!= ""))
        .as("term"))
      .withColumn("__t", lit(tag))
    val union = toks(source, 0).unionByName(toks(target, 1))
    val termStats = union.groupBy("term")
      .agg(sum(when(col("__t") === 1, 1L).otherwise(0L)).as("ct"),
        sum(when(col("__t") === 0, 1L).otherwise(0L)).as("cs"))
    val totals = termStats.agg(sum(col("ct")).as("__nt"),
      sum(col("cs")).as("__ns"), count(lit(1)).as("__v"))
    // 6-decimal quantization, not 9: the two engines' ln() differ by
    // an ulp (~1e-17 relative), and a 9-decimal boundary sits close
    // enough to that noise to flip a term (observed once at sf0.01);
    // at 6 decimals the boundary is ~10 orders of magnitude away.
    // floor-based fixed point, not round(x, 6): Spark rounds the
    // double's shortest-decimal form, DuckDB the binary value, and a
    // fresh-seed dataset landed a score on the 6-dp boundary (seed 93,
    // sf0.001). floor of an identical IEEE double is bit-deterministic.
    // Once the lr terms agree, everything downstream is exact decimal
    // arithmetic and one shared IEEE division — bit-stable.
    def f6(c: Column): Column = floor(c * lit(1e6)) / lit(1e6)
    val ratios = termStats.crossJoin(broadcast(totals))
      .withColumn("lr",
        f6(log((col("ct") + lit(1.0)) / (col("__nt") + col("__v"))) -
          log((col("cs") + lit(1.0)) / (col("__ns") + col("__v"))))
          .cast("decimal(18,6)"))
      .select("term", "lr")
    val tf = toks(source, 0).groupBy(idCol, "term")
      .agg(count(lit(1)).as("tf"))
    tf.join(ratios, "term")
      .groupBy(idCol)
      .agg(sum(col("tf")).as("n_tokens"),
        // numerator exact (decimal Σ) then ONE double rounding before
        // the division — decimal division itself has engine-specific
        // result scales, doubles don't
        f6(sum(col("tf") * col("lr")).cast("double") /
          sum(col("tf"))).as("score"))
  }

  /** Unigram-LM perplexity scoring — the CCNet posture (Wenzek et al.
    * 2020): a language model is trained on a clean REFERENCE corpus
    * and every document is scored by how surprising the model finds
    * it; low-perplexity ≈ reference-like, high ≈ noise. CCNet uses a
    * KenLM 5-gram; the Spark-native, fully-oracle-checkable form here
    * is the Laplace-smoothed unigram: p(t) = (c_t+1)/(N+V+1) over the
    * reference counts, with the +1 mass doubling as the OOV bucket
    * p(unk) = 1/(N+V+1). Output per doc: n_tokens, bits_per_token
    * (−1/n Σ log₂ p — log2-perplexity, the standard reported bits),
    * and ppl = 2^bits_per_token.
    *
    * Hash-stability follows [[dsirWeights]]: each term's log₂-prob is
    * rounded at 6 decimals and cast DECIMAL(18,6) so the per-doc Σ is
    * exact and order-independent; one double division + one pow at the
    * very end. Scale: two token aggregates (map-side combined), a
    * vocabulary-keyed shuffle join for scoring (no driver-side
    * dictionary), and two one-row broadcasts (totals, OOV log-prob).
    * Zero-token documents have no perplexity and are absent, the
    * [[dsirWeights]] contract.
    */
  def lmPerplexity(
      docs: DataFrame,
      reference: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    def toks(df: DataFrame) = df.select(col(idCol),
      explode(filter(split(normalizeText(col(textCol)), " "), t => t =!= ""))
        .as("term"))
    val refCounts = toks(reference).groupBy("term")
      .agg(count(lit(1)).as("__c"))
    val totals = refCounts.agg(sum(col("__c")).as("__n"),
      count(lit(1)).as("__v"))
    // floor-based fixed point, not round(x, 6): Spark rounds the
    // double's shortest-decimal form, DuckDB the binary value, and a
    // fresh-seed dataset landed a value exactly on the 6-dp boundary
    // (seed-gate find, r17 — sf0.003 seed 11). floor of an identical
    // IEEE double is bit-deterministic on both engines.
    def f6(c: Column): Column =
      (floor(c * lit(1e6)) / lit(1e6)).cast("decimal(18,6)")
    val logp = refCounts.crossJoin(broadcast(totals))
      .withColumn("__lp",
        f6(log(2.0, (col("__c") + lit(1.0)) /
          (col("__n") + col("__v") + lit(1.0)))))
      .select("term", "__lp")
    val oov = totals.select(
      f6(log(2.0, lit(1.0) / (col("__n") + col("__v") + lit(1.0))))
        .as("__oov"))
    val tf = toks(docs).groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("__tf"))
    tf.join(logp, Seq("term"), "left")
      .crossJoin(broadcast(oov))
      .groupBy(idCol)
      .agg(sum(col("__tf")).as("n_tokens"),
        sum(col("__tf") * coalesce(col("__lp"), col("__oov"))).as("__bits"))
      .select(col(idCol), col("n_tokens"),
        (floor(-col("__bits").cast("double") / col("n_tokens") * lit(1e6))
          / lit(1e6)).as("bits_per_token"))
      .withColumn("ppl", round(pow(lit(2.0), col("bits_per_token")), 2))
  }

  /** N-gram novelty — the corpus-diversity audit: per document, how
    * many of its distinct word n-grams appear in NO other document
    * (document frequency 1). High-novelty docs carry unique content;
    * near-zero novelty flags boilerplate/templated families that
    * near-dup detectors then localize. Output: (idCol, n_shingles,
    * n_unique, novelty = n_unique/n_shingles). Docs with < n tokens
    * have no shingles and are absent.
    *
    * Scale: distinct (doc, shingle) pairs → one map-side-combined df
    * aggregate → one shingle-keyed join back; shingle strings ride the
    * shuffle once each (the same posting-list shape as
    * [[graft.operators.Dedup.ngramJaccardPairs]]' candidate stage,
    * without the quadratic verify).
    */
  def ngramNovelty(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      n: Int): org.apache.spark.sql.DataFrame = {
    // (doc, shingle) pairs are ALREADY distinct: wordShingles is
    // first-occurrence-distinct per doc (its documented contract,
    // parity-tested against array_distinct in Md5MinHashSpec) — a
    // .distinct() here would re-shuffle the whole exploded stream to
    // remove nothing
    val pairs = df.select(col(idCol),
      explode(wordShingles(col(textCol), n)).as("__sh"))
    val docFreq = pairs.groupBy("__sh").agg(count(lit(1)).as("__df"))
    pairs.join(docFreq, "__sh")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("__df") === 1, 1L).otherwise(0L)).as("n_unique"))
      .select(col(idCol), col("n_shingles"), col("n_unique"),
        round(col("n_unique").cast("double") / col("n_shingles"), 6)
          .as("novelty"))
  }

  /** Bigram-LM perplexity — the n-gram step past [[lmPerplexity]]
    * toward CCNet's 5-gram KenLM: conditional probabilities
    * p(w₂|w₁) = (c(w₁,w₂)+1)/(c(w₁)+V+1), Laplace-smoothed over the
    * REFERENCE corpus's bigram and unigram tables (V = reference
    * unigram vocabulary; an unseen w₁ backs off to the uniform
    * 1/(V+1) row of the same formula with c=0). Score per doc: mean
    * −log₂ p over its bigrams, plus ppl = 2^bits. Documents with < 2
    * tokens have no bigrams and are absent.
    *
    * Same hash-stability discipline as [[dsirWeights]]/[[lmPerplexity]]:
    * per-bigram log₂-probs rounded at 6 decimals → DECIMAL(18,6) →
    * exact order-independent per-doc sums → one double division + one
    * pow. Scale: bigram tables are (w₁,w₂)-keyed map-side-combined
    * aggregates; scoring is two vocabulary-keyed shuffle joins (bigram
    * then w₁ backstop) — no driver-side dictionary; bigram extraction
    * is an in-row array transform, never a self-join on position.
    */
  /** PMI collocations — the phrase-mining statistic: adjacent word
    * pairs scored by pointwise mutual information over the corpus,
    * pmi = log2( P(w1w2) / (P(w1)·P(w2)) ) with probabilities from
    * exact integer counts (pair support over total bigrams, unigram
    * counts over total tokens). `minCount` floors pair support (PMI's
    * low-frequency pathology: a pair seen once between two hapaxes
    * maxes the score), `k` bounds output via TakeOrderedAndProject.
    * Shape: two map-side-combined aggregates (pairs + unigrams); the
    * unigram table joins back twice WITHOUT a broadcast hint — vocab
    * is small at test scale (AQE broadcasts it) but grows with corpus
    * at 100 TB, where a shuffle join on the word key is the right
    * plan; the two 1-row totals are explicit broadcasts.
    */
  def collocations(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      minCount: Int,
      k: Int): org.apache.spark.sql.DataFrame = {
    def toks = filter(split(normalizeText(col(textCol)), " "), t => t =!= "")
    val pairs = df.select(toks.as("__t"))
      .filter(size(col("__t")) >= 2)
      .select(explode(transform(
        sequence(lit(1), size(col("__t")) - 1),
        i => struct(element_at(col("__t"), i).as("w1"),
          element_at(col("__t"), i + 1).as("w2")))).as("__b"))
      .select(col("__b.w1").as("w1"), col("__b.w2").as("w2"))
    val unis = df.select(explode(toks).as("w"))
    val pairCounts = pairs.groupBy("w1", "w2")
      .agg(count(lit(1)).as("n_pair"))
    val uniCounts = unis.groupBy("w").agg(count(lit(1)).as("n_w"))
    val totPairs = pairCounts.agg(sum(col("n_pair")).as("tot_pairs"))
    val totWords = uniCounts.agg(sum(col("n_w")).as("tot_words"))
    pairCounts.filter(col("n_pair") >= minCount)
      .join(uniCounts.select(col("w").as("w1"), col("n_w").as("n_w1")),
        Seq("w1"))
      .join(uniCounts.select(col("w").as("w2"), col("n_w").as("n_w2")),
        Seq("w2"))
      .crossJoin(broadcast(totPairs))
      .crossJoin(broadcast(totWords))
      .withColumn("pmi", round(log(2.0,
        (col("n_pair").cast("double") * col("tot_words") * col("tot_words"))
          / (col("tot_pairs").cast("double") * col("n_w1") * col("n_w2"))),
        6))
      .select(col("w1"), col("w2"), col("n_pair"), col("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(k)
  }

  def bigramPerplexity(
      docs: org.apache.spark.sql.DataFrame,
      reference: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    def toksOf(df: org.apache.spark.sql.DataFrame) = df
      .select(col(idCol),
        filter(split(normalizeText(col(textCol)), " "), t => t =!= "")
          .as("__t"))
    def bigrams(toks: org.apache.spark.sql.DataFrame) = toks
      .filter(size(col("__t")) >= 2)
      .select(col(idCol), explode(transform(
        sequence(lit(1), size(col("__t")) - 1),
        i => struct(element_at(col("__t"), i).as("w1"),
          element_at(col("__t"), i + 1).as("w2")))).as("__b"))
      .select(col(idCol), col("__b.w1").as("w1"), col("__b.w2").as("w2"))
    def unigrams(toks: org.apache.spark.sql.DataFrame) = toks
      .select(explode(col("__t")).as("w1"))
    // The reference corpus is tokenized once and pinned: its tokens
    // feed BOTH count tables, and Spark replans the normalize/split
    // subtree per consumer (no ReusedExchange across the aliased
    // copies — the q125/q78 pattern). refUni itself has two consumers
    // (the probability join and the vocab-size row), so the aggregate
    // — already vocabulary-sized — is pinned too. The doc-side tokens
    // have exactly one consumer and stay lazy: never pin the big side
    // for free.
    val refToks = toksOf(reference).localCheckpoint()
    val refBi = bigrams(refToks).groupBy("w1", "w2")
      .agg(count(lit(1)).as("__c12"))
    val refUni = unigrams(refToks).groupBy("w1")
      .agg(count(lit(1)).as("__c1"))
      .localCheckpoint()
    val vocab = refUni.agg(count(lit(1)).as("__v"))
    val tf = bigrams(toksOf(docs)).groupBy(col(idCol), col("w1"), col("w2"))
      .agg(count(lit(1)).as("__tf"))
    tf.join(refBi, Seq("w1", "w2"), "left")
      .join(refUni, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      // floor fixed point — same cross-engine boundary rationale as
      // lmPerplexity (seed-gate find, r17)
      .withColumn("__lp", (floor(log(2.0,
        (coalesce(col("__c12"), lit(0L)) + lit(1.0)) /
          (coalesce(col("__c1"), lit(0L)) + col("__v") + lit(1.0)))
        * lit(1e6)) / lit(1e6)).cast("decimal(18,6)"))
      .groupBy(idCol)
      .agg(sum(col("__tf")).as("n_bigrams"),
        sum(col("__tf") * col("__lp")).as("__bits"))
      .select(col(idCol), col("n_bigrams"),
        (floor(-col("__bits").cast("double") / col("n_bigrams") * lit(1e6))
          / lit(1e6))
          .as("bits_per_bigram"))
      .withColumn("ppl", round(pow(lit(2.0), col("bits_per_bigram")), 2))
  }

  /** Flesch reading-ease — the classic readability signal edu-quality
    * classifiers bin on: 206.835 − 1.015·(words/sentences) −
    * 84.6·(syllables/words). Heuristics, documented: sentences =
    * terminator runs `[.!?]+` floored at 1 (a fragment is one
    * sentence); syllables = vowel-group count `[aeiouy]+` over the
    * lowercased text (groups cannot span whitespace), floored at the
    * word count IN AGGREGATE so vowel-less tokens (numbers, acronyms)
    * still carry one syllable each — a document-level floor, cheaper
    * than per-word and identical except on pathological docs. Pure
    * codegen regex counting, one pass, no shuffle; zero-word docs have
    * no readability and are absent (the [[dsirWeights]] contract).
    * Output: (idCol, n_words, n_sentences, n_syllables, flesch).
    */
  def fleschStats(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val t = col(textCol)
    df.select(col(idCol), tokenCount(t).cast("long").as("n_words"),
        greatest(regexp_count(t, lit("[.!?]+")), lit(1))
          .cast("long").as("n_sentences"),
        regexp_count(lower(t), lit("[aeiouy]+")).cast("long").as("__vg"))
      .filter(col("n_words") > 0)
      .withColumn("n_syllables", greatest(col("__vg"), col("n_words")))
      .select(col(idCol), col("n_words"), col("n_sentences"),
        col("n_syllables"),
        round(lit(206.835) -
          lit(1.015) * (col("n_words").cast("double") /
            col("n_sentences").cast("double")) -
          lit(84.6) * (col("n_syllables").cast("double") /
            col("n_words").cast("double")), 4).as("flesch"))
  }

  /** Deflate compression ratio — the single-number redundancy signal
    * (see [[graft.functions.DeflateRatio]]).
    */
  def compressionRatio(text: Column): Column =
    graft.functions.DeflateRatio.deflateRatio(text)

  /** PII scrub for training corpora: emails, URLs, and long digit runs
    * (phone/SSN-ish) replaced with typed placeholder tokens. Plain
    * `regexp_replace` chain — codegen'd, and the patterns are chosen to
    * behave identically under Java regex and RE2 so the DuckDB oracle
    * replicates byte-for-byte. Order matters: URLs first (they may
    * contain digit runs), then emails, then standalone digit runs.
    */
  def redactPii(text: Column): Column = {
    val noUrl = regexp_replace(text, "https?://[^\\s]+", "<URL>")
    val noEmail = regexp_replace(noUrl,
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    regexp_replace(noEmail, "[0-9][0-9 ()+.-]{6,}[0-9]", "<NUMBER>")
  }

  /** Gopher-style repetition signals per document (Rae et al. 2021 §A1
    * use duplicate line/paragraph/n-gram fractions to drop low-quality
    * repetitive text; with line-less corpora the token/word-n-gram
    * forms carry the signal):
    *  - `n_tokens`       total (lowercased, whitespace) tokens
    *  - `distinct_token_ratio` distinct/total tokens
    *  - `top_token_frac` occurrences of the most frequent token / total
    *  - `dup_trigram_frac` 1 − distinct/total word-trigram occurrences
    *
    * Shape: one explode + two keyed aggregations (map-side partial) —
    * shuffle volume is one row per (doc, distinct token), then one per
    * doc. Trigram distincts ride the single-pass [[graft.functions
    * .ShingleHashes]] codegen expression (64-bit hashes stand in for
    * strings; a distinct-count collision needs ~2^32 trigrams).
    * Token-less documents produce NO output row (nothing to measure);
    * left-join the result back if every id must appear.
    */
  def repetitionStats(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    // token stats MUST tokenize exactly like ShingleHashes (ALL
    // whitespace, not just ' '): a mismatch would make tri_total and
    // tri_distinct count different token streams and push
    // dup_trigram_frac outside [0,1] on text with tabs/newlines
    val toks = df.select(col(idCol),
        explode(filter(split(lower(col(textCol)), "\\s+"), t => t =!= ""))
          .as("__tok"))
      .groupBy(col(idCol), col("__tok")).agg(count(lit(1)).as("__c"))
    val tokStats = toks.groupBy(col(idCol)).agg(
      sum(col("__c")).as("n_tokens"),
      count(lit(1)).as("__n_distinct"),
      max(col("__c")).as("__top"))
    val triStats = df.select(col(idCol),
      size(graft.functions.ShingleHashes
        .shingleHashes(lower(col(textCol)), 3)).as("__tri_distinct"))
    tokStats.join(triStats, Seq(idCol))
      .withColumn("__tri_total", greatest(col("n_tokens") - 2, lit(0L)))
      .select(
        col(idCol),
        col("n_tokens"),
        when(col("n_tokens") > 0,
          round(col("__n_distinct") / col("n_tokens"), 6))
          .otherwise(lit(0.0)).as("distinct_token_ratio"),
        when(col("n_tokens") > 0, round(col("__top") / col("n_tokens"), 6))
          .otherwise(lit(0.0)).as("top_token_frac"),
        when(col("__tri_total") > 0,
          round(lit(1.0) - col("__tri_distinct") / col("__tri_total"), 6))
          .otherwise(lit(0.0)).as("dup_trigram_frac"))
  }

  /** Engine-portable winnowing fingerprints (MOSS — Schleimer et al.,
    * SIGMOD '03): `k`-char grams of the normalized text hashed with
    * the md5-prefix-32 portable hash
    * ([[graft.operators.Scale.md5Prefix32]]), windows of `w`
    * consecutive gram hashes, minimum per window with RIGHTMOST
    * tie-break, fingerprints deduped by selected position. Expressed
    * as explode + window-min so a DuckDB oracle can replicate it
    * value-for-value (q59) — [[graft.functions.RollingWinnow]] stays
    * the codegen production path.
    *
    * The per-window selection packs (hash, position) into one long
    * (`hash << 21 | (2^21-1 - pos)`): minimizing the key minimizes
    * the hash and, on hash ties, maximizes the position — the MOSS
    * rightmost rule — in a single `min` aggregate that works
    * identically in Spark and DuckDB. The pack bounds doc length at
    * 2^21-1 chars for THIS portable variant (longer docs are
    * filtered out, not truncated); RollingWinnow has no such bound.
    *
    * Scale shape: ONE codegen pass per document
    * ([[graft.functions.Md5Winnow]] — winnowing is purely
    * per-document, so no shuffle at all; just a posexplode of the
    * packed keys and a bitwise unpack), where the first cut of this
    * operator paid a full window exchange on the doc id (kept below
    * as [[winnowPortableReference]] for the parity spec). Returns
    * (idCol, pos, fp) rows; docs with fewer than `k + w - 1` chars
    * have no full window and yield no rows, like RollingWinnow.
    */
  def winnowPortable(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      w: Int): DataFrame = {
    val posMask = graft.functions.Md5Winnow.PosMask
    // deliberately NO Tables.spread here: winnowing is per-doc and its
    // shuffle-freedom is a pinned plan property (PortableSketchSpec) —
    // it composes into any consumer's scan stage without a barrier; a
    // consumer with a narrow input spreads BEFORE calling (and the
    // measured winnow-bound consumers showed no single-task hotspot)
    df.select(col(idCol),
        explode(graft.functions.Md5Winnow.md5Winnow(
          normalizeText(col(textCol)), k, w)).as("__mk"))
      .select(col(idCol),
        (lit(posMask) - col("__mk").bitwiseAND(lit(posMask))).as("pos"),
        shiftright(col("__mk"), graft.functions.Md5Winnow.PosBits).as("fp"))
  }

  /** The explode + window-min DataFrame form [[winnowPortable]]
    * replaced — retained (test-only) so PortableSketchSpec can assert
    * row-identical results on real corpora.
    */
  private[graft] def winnowPortableReference(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      w: Int): DataFrame = {
    require(k >= 1 && w >= 1, s"k and w must be positive: k=$k w=$w")
    val posMask = graft.functions.Md5Winnow.PosMask
    val n = df
      .select(col(idCol), normalizeText(col(textCol)).as("__norm"))
      .filter(length(col("__norm")) >= k &&
        length(col("__norm")) <= posMask)
    val grams = n.select(col(idCol), col("__norm"),
      explode(sequence(lit(1), length(col("__norm")) - k + 1)).as("__i"))
    val keyed = grams.select(col(idCol), col("__i"),
      shiftleft(
        Scale.md5Prefix32(col("__norm").substr(col("__i"), lit(k))), 21)
        .bitwiseOR(lit(posMask) - col("__i")).as("__key"))
    val win = Window.partitionBy(col(idCol)).orderBy(col("__i"))
      .rowsBetween(-(w - 1), 0)
    keyed.withColumn("__mk", min(col("__key")).over(win))
      .filter(col("__i") >= w) // full windows only
      .select(col(idCol),
        (lit(posMask) - col("__mk").bitwiseAND(lit(posMask))).as("pos"),
        shiftright(col("__mk"), 21).as("fp"))
      .distinct()
  }
}
