package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One benchmark run of one workload in a fresh JVM.
  *
  * Protocol (perfbench/README.md, "Protocol"): one client thread,
  * closed loop. Set-up builds the session with `graft.Bench`'s confs
  * and runs the workload's `setupOps` ops cold; there is no separate
  * table scan. The timed region then runs ops in the workload's fixed
  * order: at least `minTimedOps` of them and at least `--seconds`,
  * ending on a round boundary. Each op's result is written as parquet
  * to its own directory so that the caller can check it against the
  * op's DuckDB twin. Between ops, outside the timed region, persisted
  * and checkpointed blocks are released as `Bench.runOnce` does.
  *
  * With `--trace 1` the run also registers the [[Tracer]] listeners,
  * wraps its calls into each layer in spans and writes per-layer
  * figures. Writes `result.json` and `oracles.json` into `--out`.
  *
  * Usage: Main --workload W --data DIR --out DIR --seconds N --trace 0|1
  *        Main --selfcheck
  */
object Main {
  final case class Op(i: Int, name: String, family: String, timed: Boolean,
      ok: Boolean, error: String, wallS: Double, constructS: Double,
      executeS: Double, startMs: Long, endMs: Long, startNs: Long,
      endNs: Long, tag: String, jobs: Int, heapMb: Double, gcS: Double,
      ckptRdds: Int, ckptMb: Double, out: String)

  def main(args: Array[String]): Unit = {
    if (args.contains("--selfcheck")) { SelfCheck.run(); return }
    val kv = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def arg(k: String): String =
      kv.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    val workload = Workloads.all.find(_.name == arg("--workload")).getOrElse(
      throw new IllegalArgumentException(s"unknown workload ${arg("--workload")}"))
    val run = new Run(workload, arg("--data"), arg("--out"),
      arg("--seconds").toDouble, arg("--trace") == "1")
    run.execute()
  }

  def loadavg(): Double =
    scala.util.Try(new String(Files.readAllBytes(Paths.get("/proc/loadavg")))
      .trim.split(" ").head.toDouble).getOrElse(-1.0)

  /** Live heap: heap in use after full collections, taken outside the
    * timed region once the op's blocks are released, so it counts what
    * ops leave behind in caches and stores. Spark's ContextCleaner drops
    * the broadcast and shuffle state a collection finds unreachable on
    * its own thread, so collections repeat until the reading stops
    * falling: one reading right after an op swung by a third between
    * identical runs, and a fixed pair of readings still by 2.4x. */
  def liveHeapMb(): Double = {
    def read(): Double = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var last = read()
    var falling = true
    var rounds = 0
    while (falling && rounds < 8) {
      Thread.sleep(250)
      val cur = read()
      falling = cur < last * 0.99
      last = math.min(last, cur)
      rounds += 1
    }
    last
  }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1000.0

  def session(cores: Int, out: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.unionOutputPartitioning", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()

  def write(path: String, s: String): Unit =
    Files.write(Paths.get(path), s.getBytes(StandardCharsets.UTF_8))
}

final class Run(w: Workload, dir: String, out: String, seconds: Double,
    traced: Boolean) {
  import Main._

  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
  private val cores = Runtime.getRuntime.availableProcessors

  def execute(): Unit = {
    Files.createDirectories(Paths.get(out, "ops"))
    write(s"$out/oracles.json", Json.obj(w.round.distinct.map { n =>
      n -> Json.str(graft.SparkEntry.oracleSql.getOrElse(n, ""))
    }))
    val loadStart = loadavg()
    val t0 = System.nanoTime()
    val spark = session(cores, out)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val opJobs = new OpJobs
    spark.sparkContext.addSparkListener(opJobs)
    val tracer = if (traced) Some(new Tracer(spark)) else None
    tracer.foreach(_.start())

    val ops = mutable.ArrayBuffer.empty[Op]
    (0 until w.setupOps).foreach(i =>
      ops += runOp(spark, opJobs, tracer, i, timed = false))
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val timedStart = System.nanoTime()
    var i = w.setupOps
    while (i - w.setupOps < w.minTimedOps ||
        (System.nanoTime() - timedStart) / 1e9 < seconds ||
        i % w.round.size != 0) {
      ops += runOp(spark, opJobs, tracer, i, timed = true)
      i += 1
    }
    // busy time of the client: the between-op release and heap reading
    // are harness work, outside every op
    val timedWallS = ops.filter(_.timed).map(_.wallS).sum
    val loadEnd = loadavg()

    val layers = tracer.map { tr =>
      tr.settle()
      tr.stop()
      Layers.compute(tr, ops.toSeq, cores, timedWallS)
    }
    val sc = spark.sparkContext
    val ctx = Json.obj(Seq(
      "workload" -> Json.str(w.name),
      "cores" -> Json.num(cores),
      "master" -> Json.str(sc.master),
      "default_parallelism" -> Json.num(sc.defaultParallelism),
      "shuffle_partitions" ->
        Json.str(spark.conf.get("spark.sql.shuffle.partitions")),
      "spark_version" -> Json.str(spark.version),
      "java_version" -> Json.str(System.getProperty("java.version")),
      "loadavg_start" -> Json.num(loadStart),
      "loadavg_end" -> Json.num(loadEnd)))
    val setup = Json.obj(Seq(
      "session_s" -> Json.num(sessionS),
      "first_op_s" -> Json.num(ops.head.wallS),
      "ops_s" -> Json.num(ops.filterNot(_.timed).map(_.wallS).sum),
      "setup_s" -> Json.num(setupS)))
    write(s"$out/result.json", Json.obj(Seq(
      "context" -> ctx, "setup" -> setup,
      "timed_wall_s" -> Json.num(timedWallS),
      "ops" -> Json.arr(ops.toSeq.map(opJson)),
      "layers" -> layers.map(m => Json.obj(m.toSeq)).getOrElse("null"))))
    spark.stop()
  }

  private def opJson(o: Op): String = Json.obj(Seq(
    "i" -> Json.num(o.i), "name" -> Json.str(o.name),
    "family" -> Json.str(o.family), "timed" -> o.timed.toString,
    "ok" -> o.ok.toString, "error" -> Json.str(o.error),
    "wall_s" -> Json.num(o.wallS), "construct_s" -> Json.num(o.constructS),
    "execute_s" -> Json.num(o.executeS), "jobs" -> Json.num(o.jobs),
    "heap_mb" -> Json.num(o.heapMb), "gc_s" -> Json.num(o.gcS),
    "checkpoint_rdds" -> Json.num(o.ckptRdds),
    "checkpoint_mb" -> Json.num(o.ckptMb), "out" -> Json.str(o.out)))

  private def runOp(spark: SparkSession, opJobs: OpJobs,
      tracer: Option[Tracer], i: Int, timed: Boolean): Op = {
    val sc = spark.sparkContext
    val name = w.round(i % w.round.size)
    val family = Workloads.family(name)
    val tag = f"perfbench-op-$i%05d"
    val outDir = f"ops/$i%05d-$name"
    def span[T](n: String)(body: => T): T =
      tracer.fold(body)(_.span(n)(body))
    val fn: (SparkSession, String) => DataFrame = tracer match {
      case Some(tr) if name == "q342_runner_cycle" =>
        val mat: DataFrame => DataFrame = df =>
          tr.span("etl." + Workloads.callerModule())(df.localCheckpoint(false))
        (s, d) => Workloads.syncCycleWith(s, d, mat)
      case _ => graft.SparkEntry.queries(name)
    }
    val gc0 = gcSeconds()
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var t1 = t0
    val err =
      try {
        Spans.withProperty(sc, OpJobs.Key, tag)(span("op") {
          val df = span("op.construct")(fn(spark, dir))
          t1 = System.nanoTime()
          span("op.execute")(
            df.write.mode("overwrite").parquet(s"$out/$outDir"))
        })
        null
      } catch { case e: Throwable =>
        System.err.println(s"[perfbench] $name failed: $e")
        e.toString
      }
    val t2 = System.nanoTime()
    val endMs = System.currentTimeMillis()
    val gcS = gcSeconds() - gc0
    val jobIds = opJobs.of(tag)
    tracer.foreach(_.awaitJobs(jobIds))
    val (ckptRdds, ckptMb) =
      if (tracer.isEmpty) (0, 0.0)
      else {
        val cached = sc.getRDDStorageInfo.filter(_.numCachedPartitions > 0)
        (cached.length, cached.map(r => r.memSize + r.diskSize).sum / 1048576.0)
      }
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.sharedState.cacheManager.clearCache()
    // read once per round, at its end: a reading costs two full GCs
    val heapMb =
      if (timed && (i + 1) % w.round.size == 0) liveHeapMb() else Double.NaN
    Op(i, name, family, timed, err == null, err, (t2 - t0) / 1e9,
      (t1 - t0) / 1e9, (t2 - t1) / 1e9, startMs, endMs, t0, t2, tag,
      jobIds.size, heapMb, gcS, ckptRdds, ckptMb, outDir)
  }
}

/** Minimal JSON rendering for the result files. */
object Json {
  def str(s: String): String =
    if (s == null) "null"
    else "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def num(l: Long): String = l.toString
  def obj(kvs: Seq[(String, String)]): String =
    kvs.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
}
