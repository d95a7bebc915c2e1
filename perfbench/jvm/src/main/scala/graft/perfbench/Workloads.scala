package graft.perfbench

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.{SparkEntry, Sql}
import graft.core.{KeyValue, MapReduce, WorkloadRegistry}
import graft.streaming.StreamCuration
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.col

/** A workload runs its ops for one pass through [[Run.op]], and checks
  * each op's output outside the op's timed window.
  */
trait Workload {
  /** Untimed work before the first pass, e.g. computing expected outputs. */
  def prepare(): Unit = ()
  def pass(): Unit
  def info: Map[String, Double] = Map.empty
}

object Workload {
  def apply(spec: Spec, run: Run): Workload = spec("kind") match {
    case "queries" => new Queries(spec, run)
    case "mapreduce" => new MapReduceText(spec, run)
    case "stream" => new StreamCurationFeed(spec, run)
    case k => throw new IllegalArgumentException(s"unknown workload kind '$k'")
  }

  /** Order-insensitive digest (rows, sum of row hashes) over every output
    * column of an executed plan; running it is the query's timed action.
    */
  def digest(qe: QueryExecution): (Long, Long) = {
    val schema = qe.executedPlan.schema
    qe.toRdd.mapPartitions { rows =>
      val proj = UnsafeProjection.create(schema)
      var n, h = 0L
      while (rows.hasNext) {
        val u = proj(rows.next())
        h += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
        n += 1
      }
      Iterator((n, h))
    }.collect().foldLeft((0L, 0L)) { case ((n, h), (m, g)) => (n + m, h + g) }
  }
}

/** Engine queries through `SparkEntry.queries`. The cold pass's result of
  * each query goes to the DuckDB oracle check; every later execution must
  * give the cold pass's digest.
  */
final class Queries(spec: Spec, run: Run) extends Workload {
  private val names = spec.list("queries")
  private val tables = spec("tables")
  private val entry = SparkEntry.queries
  private val expected = mutable.Map.empty[String, (Long, Long)]

  override def prepare(): Unit = {
    val unknown = names.filterNot(entry.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
  }

  def pass(): Unit = names.foreach { n =>
    var df: DataFrame = null
    var got = (0L, 0L)
    val rec = run.op(n) {
      df = run.span("build", "queries")(entry(n)(run.spark, tables))
      val qe = df.queryExecution
      run.span("plan", "plan")(qe.executedPlan)
      got = run.span("action", "sched")(Workload.digest(qe))
    } {
      expected.get(n) match {
        case None =>
          expected(n) = got
          run.oracleCheck(df, n, n, Seq(n), allPasses = true)
          None
        case Some(e) => Option.when(e != got)(s"digest $got != first pass $e")
      }
    }
    if (df != null)
      rec.phasesMs = df.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs.toDouble }
  }
}

/** The paper's own surface: `MapReduce.runWorkload` over a whole-file
  * text corpus, an edge list and matrix triples. Each job's text output
  * must equal a single-threaded driver-side run of the same
  * `WorkloadRegistry` functions.
  */
final class MapReduceText(spec: Spec, run: Run) extends Workload {
  private val in = spec("mr_dir")
  private val out = s"${spec("run_dir")}/mr"
  private val term = spec("grep_term")
  /** (op, registry workload, input glob, aux) in run order */
  private val jobs = Seq(
    ("wc", "wc", s"$in/text/*", Nil),
    ("grep", "grep", s"$in/text/*", Seq(term)),
    ("vertex-degree", "vertex-degree", s"$in/edges/*", Nil),
    ("matrix-multiply-1", "matrix-multiply-1", s"$in/matrix/*", Nil),
    ("matrix-multiply-2", "matrix-multiply-2", s"$out/matrix-multiply-1/part-*", Nil))
  private val expected = mutable.Map.empty[String, Seq[String]]
  private var singleThreadS = 0.0

  private def files(dir: String): Seq[Path] =
    Files.list(Paths.get(dir)).iterator.asScala.toSeq.sortBy(_.toString)

  /** One driver-side, single-threaded run of a registry workload. */
  private def local(workload: String, inputs: Seq[(String, Array[Byte])],
      aux: Seq[String]): Seq[String] = {
    val w = WorkloadRegistry.named(workload)
    val groups = mutable.LinkedHashMap.empty[ByteBuffer, mutable.ArrayBuffer[Array[Byte]]]
    for ((name, bytes) <- inputs; kv <- w.mapFn(KeyValue(name.getBytes(UTF_8), bytes), aux))
      groups.getOrElseUpdate(ByteBuffer.wrap(kv.key), mutable.ArrayBuffer.empty) += kv.value
    groups.toSeq.flatMap { case (k, vs) =>
      lines(new String(w.reduceFn(k.array, vs.iterator, aux), UTF_8).stripSuffix("\n"))
    }.sorted
  }

  private def lines(s: String): Seq[String] =
    if (s.isEmpty) Nil else s.split("\n", -1).toSeq

  override def prepare(): Unit = {
    val t0 = System.nanoTime()
    val read = (glob: String) => {
      val dir = glob.stripSuffix("/*")
      files(dir).map(p => p.getFileName.toString -> Files.readAllBytes(p))
    }
    for ((op, w, glob, aux) <- jobs) {
      val inputs =
        if (op == "matrix-multiply-2")
          Seq("mm1" -> expected("matrix-multiply-1").mkString("", "\n", "\n").getBytes(UTF_8))
        else read(glob)
      expected(op) = local(w, inputs, aux)
    }
    singleThreadS = (System.nanoTime() - t0) / 1e9
  }

  def pass(): Unit = for ((op, w, glob, aux) <- jobs) {
    val dir = s"$out/$op"
    run.op(op) {
      run.span("mapreduce", "core")(MapReduce.runWorkload(run.spark, w, glob, dir, aux))
    } {
      val got = files(dir).filter(_.getFileName.toString.startsWith("part-"))
        .flatMap(p => lines(new String(Files.readAllBytes(p), UTF_8).stripSuffix("\n"))).sorted
      Option.when(got != expected(op))(
        s"${got.size} output lines differ from the single-threaded run's ${expected(op).size}")
    }
  }

  override def info: Map[String, Double] = Map("mr_single_thread_s" -> singleThreadS)
}

/** `StreamCuration.processBatch`, one call per trigger, over the
  * documents table cut at seed-chosen doc_id boundaries and fed in
  * order, with one `compactState` mid-stream. After each pass the
  * curated output must equal q100's (its DuckDB oracle), row for row.
  */
final class StreamCurationFeed(spec: Spec, run: Run) extends Workload {
  private val tables = spec("tables")
  private val cuts = spec.list("stream_cuts").map(_.toLong)
  /** compaction after the middle trigger (cuts hold triggers + 1 bounds) */
  private val compactAfter = (cuts.size - 2) / 2
  private var docs: DataFrame = null

  override def prepare(): Unit =
    docs = Sql.table(run.spark, tables, "documents").select("doc_id", "lang", "source", "text")

  def pass(): Unit = {
    val dir = s"${spec("run_dir")}/stream/p${run.tracer.pass}"
    val (state, out) = (s"$dir/state", s"$dir/out")
    val triggers = cuts.zip(cuts.tail).zipWithIndex.map { case ((lo, hi), i) =>
      val batch = docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
      val rec = run.op(s"trigger$i") {
        run.span("trigger", "streaming")(
          StreamCuration.processBatch(run.spark, batch, state, out, i.toLong))
      }(None)
      if (i == compactAfter)
        run.extra(run.span("compaction", "streaming")(StreamCuration.compactState(run.spark, state)))
      rec
    }
    run.passRec.stateFiles = Files.walk(Paths.get(state)).iterator.asScala.count(Files.isRegularFile(_))
    run.oracleCheck(StreamCuration.curated(run.spark, out), s"curated-p${run.tracer.pass}",
      "q100_curation_pipeline", triggers.map(_.name), allPasses = false)
    run.sweep()
    Files.walk(Paths.get(dir)).iterator.asScala.toSeq.reverse.foreach(Files.delete)
  }
}
