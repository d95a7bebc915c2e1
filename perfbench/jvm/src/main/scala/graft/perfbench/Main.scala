package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions.col

/** Run settings, written by run.py as a java.util.Properties file. */
final class Spec(p: java.util.Properties) {
  def apply(k: String): String =
    Option(p.getProperty(k)).getOrElse(throw new IllegalArgumentException(s"spec lacks '$k'"))
  def list(k: String): Seq[String] = apply(k).split(",").toSeq.filter(_.nonEmpty)
}

object Spec {
  def load(path: String): Spec = {
    val p = new java.util.Properties
    val r = Files.newBufferedReader(Paths.get(path))
    try p.load(r) finally r.close()
    new Spec(p)
  }
}

/** Minimal JSON writing (Locale-free number formatting). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(vs: Iterable[String]): String = vs.mkString("[", ",", "]")
  def write(path: Path, json: String): Unit = Files.writeString(path, json + "\n")
}

final class OpRec(val name: String, val pass: Int) {
  var ms = 0.0
  var failed = false
  var error = ""
  var phasesMs = Map.empty[String, Double]
}

final class PassRec(val pass: Int, val traced: Boolean) {
  var ms = 0.0
  var gcMs, jitMs, codegenN, codegenNs = 0L
  var leakedRdds, leakedB, peakPersistedB, stateFiles = 0L
}

/** One benchmark process: a session, the op records and, when tracing,
  * the spans and the listener that bills Spark work to them.
  */
final class Run(val spark: SparkSession, val cores: Int, checkDir: String) {
  val tracer = new Tracer(spark.sparkContext)
  val profile = new Profile
  val ops = mutable.ArrayBuffer.empty[OpRec]
  val passes = mutable.ArrayBuffer.empty[PassRec]
  /** Results written for the DuckDB oracle check run.py makes after the run. */
  val checks = mutable.ArrayBuffer.empty[String]
  def passRec: PassRec = passes.last

  /** Writes `df` for run.py to compare with `query`'s oracle SQL; a
    * mismatch fails `ops` in this pass, or in every pass.
    */
  def oracleCheck(df: DataFrame, dir: String, query: String,
      ops: Seq[String], allPasses: Boolean): Unit = {
    df.coalesce(1).write.mode("overwrite").parquet(s"$checkDir/$dir")
    checks += Json.obj(Seq(
      "dir" -> Json.str(dir), "query" -> Json.str(query),
      "sql" -> Json.str(graft.SparkEntry.oracleSql.getOrElse(query, "")),
      "pass" -> (if (allPasses) "-1" else tracer.pass.toString),
      "ops" -> Json.arr(ops.map(Json.str))))
  }

  def span[T](name: String, layer: String)(body: => T): T = tracer.span(name, layer)(body)

  /** Times one op, runs its output check (untimed), then counts and
    * drops what the op left persisted. A check returns the error, if any.
    */
  def op(name: String)(body: => Unit)(check: => Option[String]): OpRec = {
    val rec = new OpRec(name, tracer.pass)
    val t0 = System.nanoTime()
    try span(name, "op")(body)
    catch {
      case e: Throwable =>
        rec.failed = true
        rec.error = e.toString
        System.err.println(s"[perfbench] $name failed: $e")
    }
    rec.ms = (System.nanoTime() - t0) / 1e6
    passRec.ms += rec.ms
    ops += rec
    if (!rec.failed)
      try check.foreach(fail(rec, _))
      catch { case e: Throwable => fail(rec, s"check threw $e") }
    val (n, bytes) = sweep()
    passRec.leakedRdds += n
    passRec.leakedB += bytes
    rec
  }

  /** Untimed-op work that still belongs to the pass (e.g. compaction). */
  def extra(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    passRec.ms += (System.nanoTime() - t0) / 1e6
  }

  def fail(rec: OpRec, why: String): Unit = {
    rec.failed = true
    rec.error = why
    System.err.println(s"[perfbench] ${rec.name} (pass ${rec.pass}) output check failed: $why")
  }

  /** Persisted RDDs left behind: count and size them, then unpersist. */
  def sweep(): (Long, Long) = {
    val sc = spark.sparkContext
    val left = sc.getPersistentRDDs.values.toSeq
    val sizes = sc.getRDDStorageInfo.map(i => i.id -> (i.memSize + i.diskSize)).toMap
    val bytes = left.map(r => sizes.getOrElse(r.id, 0L)).sum
    left.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
    (left.size.toLong, bytes)
  }

  def runPass(workload: Workload, pass: Int, traced: Boolean): PassRec = {
    val rec = new PassRec(pass, traced)
    passes += rec
    tracer.pass = pass
    tracer.enabled = traced
    val sc = spark.sparkContext
    if (traced) sc.addSparkListener(profile)
    val (gc0, jit0) = (Jvm.gcMs, Jvm.jitMs)
    val (cg0, cgNs0) = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
    if (traced) { Bus.drain(sc); profile.takePeakPersisted() }
    workload.pass()
    rec.gcMs = Jvm.gcMs - gc0
    rec.jitMs = Jvm.jitMs - jit0
    rec.codegenN = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0
    rec.codegenNs = CodeGenerator.compileTime - cgNs0
    if (traced) {
      Bus.drain(sc)
      rec.peakPersistedB = profile.takePeakPersisted()
      sc.removeSparkListener(profile)
    }
    tracer.enabled = false
    rec
  }
}

object Jvm {
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ > 0).sum
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  def heapUsedB: Long = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed

  /** Heap used after full GCs, repeated while Spark's ContextCleaner
    * still frees blocks of objects the previous GC found unreachable.
    */
  def retainedHeapB: Long = {
    var last = Long.MaxValue
    var used = 0L
    var i = 0
    while (i < 6) {
      System.gc()
      Thread.sleep(100)
      used = heapUsedB
      if (last - used < (1L << 20)) i = 6 else { last = used; i += 1 }
    }
    used
  }
}

/** Benchmark process: `Main <spec.properties>`. Writes the raw run record
  * (setups, passes, ops, layer metrics, spans) to the spec's `out` path.
  */
object Main {

  /** Session build, extension registration and a generic warm-up job. */
  def session(spec: Spec): SparkSession = {
    val cores = spec("cores")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", spec("shuffle_partitions"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.local.dir", s"${spec("run_dir")}/spark-local")
      .config("spark.sql.warehouse.dir", s"${spec("run_dir")}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(0, 20000, 1, cores.toInt).groupBy((col("id") % 7).as("k")).count().collect()
    spark
  }

  def main(args: Array[String]): Unit = {
    val spec = Spec.load(args(0))
    // setup_s: the median of several session set-ups in this process
    val setups = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (i <- 1 to spec("setups").toInt) {
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      spark = session(spec)
      setups += (System.nanoTime() - t0) / 1e9
    }
    val run = new Run(spark, spec("cores").toInt, s"${spec("run_dir")}/check")
    val trace = spec("trace") == "1"
    val workload = Workload(spec, run)
    val t0 = System.nanoTime()
    workload.prepare()
    val prepareS = (System.nanoTime() - t0) / 1e9

    run.runPass(workload, 0, trace)
    val seconds = spec("seconds").toDouble
    val minSteady = spec("min_steady").toInt
    val m0 = System.nanoTime()
    var pass = 1
    // traced runs alternate untraced and traced steady passes, so the
    // tracing overhead is measured in the same process
    while (pass <= minSteady || (System.nanoTime() - m0) / 1e9 < seconds) {
      run.runPass(workload, pass, trace && pass % 2 == 0)
      pass += 1
    }
    val measuredS = (System.nanoTime() - m0) / 1e9

    run.sweep()
    val heapMb = Jvm.retainedHeapB / 1048576.0

    val layers = if (trace) Layers(run) else Map.empty[String, Double]
    val json = Json.obj(Seq(
      "setup_s" -> Json.arr(setups.map(Json.num)),
      "prepare_s" -> Json.num(prepareS),
      "measured_s" -> Json.num(measuredS),
      "heap_retained_mb" -> Json.num(heapMb),
      "heap_max_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "spark_version" -> Json.str(spark.version),
      "java_version" -> Json.str(System.getProperty("java.version")),
      "passes" -> Json.arr(run.passes.map(p => Json.obj(Seq(
        "pass" -> p.pass.toString, "traced" -> p.traced.toString, "ms" -> Json.num(p.ms),
        "leaked_rdds" -> p.leakedRdds.toString, "leaked_b" -> p.leakedB.toString)))),
      "ops" -> Json.arr(run.ops.map(o => Json.obj(Seq(
        "name" -> Json.str(o.name), "pass" -> o.pass.toString,
        "ms" -> Json.num(o.ms), "failed" -> o.failed.toString, "error" -> Json.str(o.error))))),
      "checks" -> Json.arr(run.checks),
      "info" -> Json.obj(workload.info.map { case (k, v) => k -> Json.num(v) }),
      "layers" -> Json.obj(layers.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
      "spans" -> Json.arr(run.tracer.spans.map(s => Json.obj(Seq(
        "id" -> s.id.toString, "parent" -> s.parent.toString, "pass" -> s.pass.toString,
        "name" -> Json.str(s.name), "layer" -> Json.str(s.layer),
        "start_ms" -> s.startMs.toString, "dur_ms" -> Json.num((s.endNs - s.startNs) / 1e6),
        "jobs" -> run.profile.workOf(s.id).jobs.toString)))),
    ))
    Json.write(Paths.get(spec("out")), json)
    spark.stop()
  }
}
