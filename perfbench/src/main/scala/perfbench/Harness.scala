package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.{Registry, Tables}
import graft.api.{AnnIndex, IncrementalDedup, MapReduce}

/** One JVM run of one workload: set up (timed from JVM start), warm
  * up on other inputs, then run whole rounds of the workload's
  * operations, each round in a fresh `SparkSession.newSession()` so
  * session memos start empty, until `--seconds` have passed. Every operation writes its full
  * output to parquet; the Python side checks it. Writes `result.json`
  * into the work directory.
  *
  * Arguments (all `--key value`): workload, data, warm, work, seconds,
  * trace (0|1), cpus, ops (comma list, in run order),
  * warm-rounds, batches and warm-batches (ingest); or `--dump-oracles <file>`
  * to write every operator's oracle SQL and exit. For the reference
  * figures only: `--action count` times `count()` instead of the full
  * output, `--warm none` skips the warm-up, `--reuse-session 1` runs
  * every round in one session.
  */
object Harness {
  /** An operation: `run` builds what it needs, calls `boundary` with
    * the DataFrame it built (if any) where its timed action begins, and
    * performs the action, which writes files under `target`.
    */
  final case class Op(name: String, target: String,
      run: (SparkSession, Option[DataFrame] => Unit) => Unit)

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  private def writeJson(file: String, v: Any): Unit =
    Files.writeString(Paths.get(file), json.writeValueAsString(v))

  /** Counters read on the harness thread at span boundaries. */
  private def counters(): Map[String, Any] = Map(
    "t_ms" -> System.nanoTime() / 1e6,
    "epoch_ms" -> System.currentTimeMillis(),
    "cpu_ns" -> os.getProcessCpuTime,
    "gc_ms" -> ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum,
    "jit_ms" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
    "codegen_ns" ->
      org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime,
    "codegen_n" ->
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount)

  def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Operators run through their registered `QueryDef.fn`, plus the
    * reference's word-count job through `api.MapReduce`.
    */
  private val ApiWordCount = "api_mapreduce_wordcount"

  private def queryOps(names: Seq[String], data: String, out: String,
      countOnly: Boolean = false): Seq[Op] = {
    val byName = Registry.byName
    names.map {
      case ApiWordCount =>
        Op(ApiWordCount, s"$out/$ApiWordCount", (s, boundary) => {
          val df = MapReduce.wordCount(s, s"$data/texts").toDF("word", "cnt")
          boundary(Some(df))
          df.write.mode("overwrite").parquet(s"$out/$ApiWordCount")
        })
      case n =>
        val q = byName.getOrElse(n, sys.error(s"unknown operation $n"))
        Op(n, s"$out/$n", (s, boundary) => {
          val df = q.fn(s, data)
          boundary(Some(df))
          if (countOnly) df.count()
          else df.write.mode("overwrite").parquet(s"$out/$n")
        })
    }
  }

  /** Ingest: per batch, probe the dedup index, append the batch to
    * both indexes, then search the ANN index with the batch vectors.
    */
  private def ingestOps(batches: Int, data: String, index: String, out: String): Seq[Op] =
    (0 until batches).flatMap { b =>
      val tag = f"b$b%02d"
      def docs(s: SparkSession) = s.read.parquet(f"$data/ingest/batch_docs_$b%02d.parquet")
      def vecs(s: SparkSession) = s.read.parquet(f"$data/ingest/batch_vecs_$b%02d.parquet")
      Seq(
        Op(s"probe_$tag", s"$out/probe_$tag", (s, boundary) => {
          val pairs = IncrementalDedup.newDupPairs(docs(s),
            IncrementalDedup.readIndex(s, s"$index/dedup"))
          boundary(Some(pairs))
          pairs.write.mode("overwrite").parquet(s"$out/probe_$tag")
        }),
        Op(s"dedup_append_$tag", s"$index/dedup", (s, boundary) => {
          boundary(None)
          IncrementalDedup.appendIndex(docs(s), s"$index/dedup")
        }),
        Op(s"ann_append_$tag", s"$index/ann", (s, boundary) => {
          boundary(None)
          AnnIndex.append(s, s"$index/ann", vecs(s))
        }),
        Op(s"search_$tag", s"$out/search_$tag", (s, boundary) => {
          val q = vecs(s).select(col("vec_id").as("q_id"), col("embedding").as("qe"))
          val hits = AnnIndex.search(s, s"$index/ann", q, nprobe = 4, topk = 10)
          boundary(Some(hits))
          hits.write.mode("overwrite").parquet(s"$out/search_$tag")
        }))
    }

  /** Index the ingest start set (the part of set-up that is program work). */
  private def buildIndexes(s: SparkSession, data: String, index: String): Unit = {
    IncrementalDedup.writeIndex(
      s.read.parquet(s"$data/ingest/start_docs.parquet"), s"$index/dedup")
    AnnIndex.build(s.read.parquet(s"$data/ingest/start_vecs.parquet"), s"$index/ann")
  }

  private def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val walk = Files.walk(src)
    try walk.iterator().asScala.foreach { p =>
      val dst = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst)
    } finally walk.close()
  }

  /** Data files under `path` (Spark's `_SUCCESS` and `.crc` excluded). */
  private def fileCount(path: String): Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L
    else {
      val walk = Files.walk(p)
      try walk.iterator().asScala.count { f =>
        val n = f.getFileName.toString
        Files.isRegularFile(f) && !n.startsWith(".") && !n.startsWith("_")
      }.toLong
      finally walk.close()
    }
  }

  private def deleteTree(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally walk.close()
    }
  }

  /** Runs one round's operations in `s`; returns per-op records. */
  private def runRound(s: SparkSession, round: String, ops: Seq[Op],
      tracer: Option[Tracer]): Seq[Map[String, Any]] = {
    tracer.foreach(s.listenerManager.register)
    ops.map { op =>
      val group = s"$round:${op.name}"
      s.sparkContext.setJobGroup(group, op.name, interruptOnCancel = false)
      val files0 = fileCount(op.target)
      val start = counters()
      var mid: Map[String, Any] = null
      val t0 = System.nanoTime()
      var buildNs = 0L
      var analysisMs = 0L
      val err = try {
        op.run(s, built => {
          buildNs = System.nanoTime() - t0
          mid = counters()
          // the built plan was analyzed eagerly, inside the build
          analysisMs = built.flatMap(_.queryExecution.tracker.phases.get("analysis"))
            .map(p => p.endTimeMs - p.startTimeMs).getOrElse(0L)
        })
        None
      } catch {
        case e: Throwable =>
          Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      }
      val wallNs = System.nanoTime() - t0
      val end = counters()
      s.sparkContext.clearJobGroup()
      err.foreach(e => System.err.println(s"[perfbench] ${op.name} failed: $e"))
      s.sharedState.cacheManager.clearCache()
      tracer.foreach(_ => org.apache.spark.BenchAccess.drainListenerBus(s.sparkContext))
      Map("name" -> op.name, "group" -> group, "wall_s" -> wallNs / 1e9,
        "build_s" -> buildNs / 1e9, "analysis_ms" -> analysisMs,
        "ok" -> err.isEmpty, "error" -> err,
        "files_written" -> (fileCount(op.target) - files0),
        "start" -> start, "boundary" -> Option(mid).getOrElse(end), "end" -> end)
    }
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val opNames = a.getOrElse("ops", "").split(",").filter(_.nonEmpty).toSeq
    a.get("dump-oracles").foreach { file =>
      val byName = Registry.byName
      val named = if (opNames.isEmpty) byName.keys.toSeq else opNames
      val sql = named.flatMap(n => byName.get(n).flatMap(_.oracle).map(n -> _)).toMap
      writeJson(file, sql)
      return
    }
    val workload = a("workload")
    val (data, warm, work) = (a("data"), a("warm"), a("work"))
    val seconds = a("seconds").toDouble
    val traced = a.getOrElse("trace", "0") == "1"
    val cpus = a.getOrElse("cpus", "4").toInt
    val batches = a.getOrElse("batches", "0").toInt
    val ingest = workload == "ingest"
    val countOnly = a.get("action").contains("count")
    val reuseSession = a.get("reuse-session").contains("1")

    // set-up, timed from JVM start: session, tables, start-set indexes
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(cpus, work)
    Tables.all.foreach(t => Tables.load(spark, data, t).schema)
    if (ingest) {
      deleteTree(s"$work/index_start")
      buildIndexes(spark, data, s"$work/index_start")
    }
    val setupS = (System.currentTimeMillis() - jvmStart) / 1000.0

    // warm-up on other inputs, in a session that is dropped
    val w0 = System.nanoTime()
    val warmSession = spark.newSession()
    if (warm == "none") ()
    else if (ingest) {
      // the warm batches (other inputs) go through a copy of the start index
      deleteTree(s"$work/warm")
      copyTree(s"$work/index_start", s"$work/warm/index")
      runRound(warmSession, "warm", ingestOps(a.getOrElse("warm-batches", "2").toInt,
        warm, s"$work/warm/index", s"$work/warm/out"), None)
    } else for (w <- 0 until a.getOrElse("warm-rounds", "1").toInt)
      runRound(warmSession, s"warm$w",
        queryOps(opNames, warm, s"$work/warm/out", countOnly), None)
    val warmupS = (System.nanoTime() - w0) / 1e9

    val tracer = if (traced) Some(new Tracer) else None
    tracer.foreach(spark.sparkContext.addSparkListener)
    val rounds = mutable.ArrayBuffer.empty[Map[String, Any]]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (rounds.isEmpty || System.nanoTime() < deadline) {
      val r = rounds.size
      val out = s"$work/out/r$r"
      val index = s"$work/index/r$r"
      if (ingest) { deleteTree(index); copyTree(s"$work/index_start", index) }
      val s = if (reuseSession) spark else spark.newSession()
      val ops = if (ingest) ingestOps(batches, data, index, out)
        else queryOps(opNames, data, out, countOnly)
      val cpu0 = os.getProcessCpuTime
      val t0 = System.nanoTime()
      val recs = runRound(s, s"r$r", ops, tracer)
      val wallS = (System.nanoTime() - t0) / 1e9
      val cpuS = (os.getProcessCpuTime - cpu0) / 1e9
      rounds += Map("round" -> r, "wall_s" -> wallS, "cpu_s" -> cpuS,
        "out" -> out, "index" -> index, "index_files" -> fileCount(index),
        "ops" -> recs)
    }
    val result = Map(
      "workload" -> workload, "setup_s" -> setupS, "warmup_s" -> warmupS,
      "rounds" -> rounds.toSeq,
      "trace" -> tracer.map(_.records))
    writeJson(s"$work/result.json", result)
    spark.stop()
  }
}
