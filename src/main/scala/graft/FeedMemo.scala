package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Process-lifetime parquet memo of DERIVED INPUT renders (round 19 —
  * the generalization of the cycle gates' feed memo, VERDICT r18
  * item 4): streaming gates replay deterministic slices of the base
  * tables as file feeds, and re-rendering the same slice files on
  * every bench pass cost one single-task Spark write job per slice per
  * pass. Each render is built ONCE per (testdata dir, key) by the real
  * plan and the part file is COPIED into every consumer's run-private
  * source dir — the stream still reads its own files through its own
  * checkpoint; only the render of its INPUT is shared, exactly like a
  * production feed directory that exists before the job runs.
  *
  * Keyed by md5 of the dir path so probe/seed worlds can never
  * collide; the memo dies with the JVM (fresh-seed runs fork a new
  * JVM, so a regenerated testdata dir can never meet a stale cache);
  * `SPARK_GRAFT_NO_FEEDCACHE` forces a fresh render per call.
  */
object FeedMemo {
  private val lock = new Object
  private var root: Option[String] = None
  private val built = scala.collection.mutable.HashSet.empty[String]

  /** The memo's contract, PINNED (round 20, VERDICT r19 item 6): every
    * key names a derived INPUT render — a feed slice, a delivery file,
    * an EDW seed state, or the trained artifact a serving gate
    * consumes — never a declared query's own output on its own path.
    * The allowlist is deliberately closed: extending the memo to a new
    * key requires editing this regex (a reviewable diff), and
    * FeedMemoSpec asserts no declared query name can ever match it.
    *
    * Key families:
    *  - `qNN_sK` / `q86_idx_base` / `q86_docs_base`: streaming gates'
    *    input-slice renders (the files the stream consumes);
    *  - `bpe_merges20`: the trained BPE merge table the SERVING gates
    *    q91/q295 consume (q90 — the training gate — always trains
    *    fully; see COVERAGE.md);
    *  - `demog/scival/emp/deptorg/riorg/rxorg/riper/rxper/rpub/eorg/
    *    eper/epub_<custMod>_<ordsMod>` and `f2_*`: the cycle gates'
    *    deterministic feed derivations (JSON renders over base
    *    tables);
    *  - `st1_*`: q345's persisted cycle-1 EDW state (the reference
    *    daemon's between-cycles EDW tables);
    *  - `delivery_<cycle>`: the streaming cycle gates' delivery files.
    */
  private[graft] val allowedKey = (
    "q(86|93|105|113|119|128|168|223|246|261|273|281|286|333)" +
      "_(s\\d+|idx_base|docs_base)" +
    "|bpe_merges20" +
    "|(demog|scival|emp|deptorg|riorg|rxorg|riper|rxper|rpub" +
      "|eorg|eper|epub)_\\d+_\\d+" +
    "|f2_(riorg|riper|rxper|rpub|xlate|platep)" +
    "|st1_(eorg|eper|epub|porg)" +
    "|delivery_\\d+").r

  private def rootDir(): String = lock.synchronized {
    root.getOrElse {
      val d = java.nio.file.Files
        .createTempDirectory("graft-feed-memo").toString
      Runtime.getRuntime.addShutdownHook(
        new Thread(() => TmpTrees.delete(d)))
      root = Some(d); d
    }
  }

  /** Memoized single-file parquet render of `build`, returning the
    * memo directory. One file per feed: a single-split scan gives
    * every consumer the same partitioning story (feeds are thousands
    * of rows at bench sf).
    */
  def path(dataDir: String, key: String)(build: => DataFrame): String = {
    require(allowedKey.pattern.matcher(key).matches(),
      s"FeedMemo key '$key' is not in the pinned derived-input " +
        "allowlist — the memo must never hold a declared query's own " +
        "output (see the allowedKey scaladoc)")
    val hash = java.security.MessageDigest.getInstance("MD5")
      .digest(dataDir.getBytes("UTF-8")).take(6).map("%02x".format(_))
      .mkString
    val noMemo = sys.env.contains("SPARK_GRAFT_NO_FEEDCACHE")
    val safe =
      if (noMemo) s"${key}_${hash}_${System.nanoTime()}" // fresh every call
      else s"${key}_$hash"
    lock.synchronized {
      val p = s"${rootDir()}/$safe"
      if (!built.contains(safe)) {
        build.coalesce(1).write.mode("overwrite").parquet(p)
        built += safe
      }
      p
    }
  }

  /** Memoized parquet frame read-back (the cycle gates' feeds);
    * a repeat read schedules no job ([[Tables.parquet]]). */
  def frame(s: SparkSession, dataDir: String, key: String)(
      build: => DataFrame): DataFrame =
    if (sys.env.contains("SPARK_GRAFT_NO_FEEDCACHE")) build
    else Tables.parquet(s, path(dataDir, key)(build))

  /** First data file of a memoized feed directory. */
  def partFile(memoDir: String): java.nio.file.Path = {
    val st = java.nio.file.Files.list(java.nio.file.Paths.get(memoDir))
    try st.toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.startsWith("part-"))
      .sortBy(_.getFileName.toString).headOption
      .getOrElse(throw new IllegalStateException(
        s"no part file in feed memo $memoDir"))
    finally st.close()
  }

  /** Render `build` once per (dataDir, key) and copy the part file
    * into `destDir` stamped with `mtimeMillis` — the streaming gates'
    * delivery-slice writer. File name carries `key` so repeated
    * deliveries of the SAME slice (late/duplicate replays) get
    * distinct names via `nameSuffix`. Returns the memo directory, a
    * stable path whose schema [[Tables.parquet]] reads without a job
    * on a repeat (the run-private `destDir` is new every run).
    */
  def copySlice(dataDir: String, key: String, destDir: String,
      mtimeMillis: Long, nameSuffix: String = "")(
      build: => DataFrame): String = {
    val memoDir = path(dataDir, key)(build)
    val part = partFile(memoDir)
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(destDir))
    val dst = java.nio.file.Paths.get(destDir,
      s"$key$nameSuffix-${part.getFileName}")
    java.nio.file.Files.copy(part, dst)
    java.nio.file.Files.setLastModifiedTime(dst,
      java.nio.file.attribute.FileTime.fromMillis(mtimeMillis))
    memoDir
  }
}
