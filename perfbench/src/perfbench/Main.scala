package perfbench

import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import org.apache.spark.sql.SparkSession

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** One timed span: a pipeline iteration (the root) or one step in it. */
final case class Span(id: Int, parent: Int, trace: String, name: String, layer: String,
    start: Double, end: Double, counters: Option[Counters], facts: Map[String, Double])

/** What a workload's check phase reports about one iteration. */
final case class Verdict(
    wrongSteps: Map[String, String],         // step -> what was wrong
    facts: Map[String, Map[String, Double]], // step -> counted outcomes
    found: Long,                             // planted items recovered / expected rows matched
    planted: Long)

/** Collects one iteration's check results into a [[Verdict]]. */
final class Checker {
  private val wrong = mutable.LinkedHashMap[String, String]()
  val facts         = mutable.LinkedHashMap[String, Map[String, Double]]()
  var found, planted = 0L

  def expect(step: String, ok: Boolean, what: => String): Unit =
    if (!ok && !wrong.contains(step)) wrong(step) = what

  /** A dedup step is wrong if it removed a row that was not planted, or
    * collapsed fewer than 90% of the planted pairs present in its input.
    */
  def dedup(step: String, input: Set[Long], kept: Set[Long], pairs: Seq[(Long, Long)]): Unit = {
    val removed   = input -- kept
    val unplanted = removed -- pairs.flatMap { case (a, b) => Seq(a, b) }
    val live      = pairs.filter { case (a, b) => input(a) && input(b) }
    val collapsed = live.count { case (a, b) => kept(a) != kept(b) }
    found += collapsed; planted += live.size
    expect(step, kept.nonEmpty && unplanted.isEmpty && collapsed >= 0.9 * live.size,
      s"removed ${unplanted.size} unplanted rows, collapsed $collapsed of ${live.size} planted pairs")
    facts(step) = Map("useful" -> removed.size.toDouble)
  }

  def verdict: Verdict = Verdict(wrong.toMap, facts.toMap, found, planted)
}

/** Per-iteration context the workload's steps run in. `inputSizes` holds
  * the size of each generated input, measured once after generation.
  */
final class Ctx(val spark: SparkSession, val in: Path, val out: Path, probe: Probe,
    traced: Boolean, trace: String, t0: Long, rootId: Int, inputSizes: Map[String, Long]) {
  val attempted = mutable.ArrayBuffer[String]()
  val failed    = mutable.LinkedHashMap[String, String]()
  val spans     = mutable.ArrayBuffer[Span]()
  val inputBytes = mutable.HashMap[String, Double]()

  def secs(ns: Long): Double = (ns - t0) / 1e9

  /** Runs one pipeline step: one call into a layer that ends in a write.
    * `reads` names the generated inputs the step reads. A traced step's
    * span includes draining the listener events its own jobs posted.
    */
  def step(name: String, layer: String, reads: String*)(body: => Unit): Unit = {
    attempted += name
    val s = System.nanoTime
    if (traced) probe.enter(name, group = true)
    try body
    catch { case NonFatal(e) => failed(name) = e.toString.take(500) }
    finally {
      if (traced) probe.leave(group = true)
      val e = System.nanoTime
      spans += Span(rootId + spans.size + 1, rootId, trace, name, layer, secs(s), secs(e), None, Map.empty)
      if (reads.nonEmpty) inputBytes(name) = reads.map(inputSizes(_).toDouble).sum
    }
  }

  /** Iteration time between t0 and `t1` that no step span covers: the
    * harness's own work inside the timed iteration.
    */
  def harnessS(t1: Long): Double = secs(t1) - spans.map(s => s.end - s.start).sum

  def path(rel: String): String = out.resolve(rel).toString
  def input(rel: String): String = in.resolve(rel).toString
}

trait Workload {
  def name: String
  /** Writes the seeded inputs under `dir`; returns the input row count and
    * keeps the ground truth for [[check]].
    */
  def generate(spark: SparkSession, dir: Path, seed: Long): Long
  def run(ctx: Ctx): Unit
  def check(ctx: Ctx): Verdict
}

object Main {

  private val workloads: Seq[Workload] = Seq(EltBatch, LlmCuration, MediaDecode)

  /** Input generations per run: the median is the generation cost, and
    * identical digests show the generator is deterministic.
    */
  val Generations = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wl = workloads.find(_.name == opts("workload")).getOrElse(
      throw new IllegalArgumentException(s"unknown workload ${opts("workload")}"))
    val seed    = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace   = opts("trace") == "1"
    val work    = Paths.get(opts("work")).toAbsolutePath
    val result  = Paths.get(opts("result")).toAbsolutePath
    Files.createDirectories(work)

    val procStart = System.nanoTime
    val cores     = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${wl.name}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.checkpoint.dir", work.resolve("checkpoints").toString)
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      // Traced runs sample the JVM heap every 20 ms, so each task reports
      // its heap peak (multimodal.peak_mem_mb).
      .config("spark.executor.metrics.pollingInterval", if (trace) "20ms" else "0")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val probe     = new Probe(spark)
    val sessionS  = (System.nanoTime - procStart) / 1e9

    val genRuns = (0 until Generations).map { g =>
      val dir = work.resolve(s"input-$g")
      Files.createDirectories(dir)
      val t    = System.nanoTime
      val rows = wl.generate(spark, dir, seed)
      val s    = (System.nanoTime - t) / 1e9
      val (bytes, digest) = digestOf(dir)
      (dir, rows, bytes, digest, s)
    }
    val (in, rows, bytes, digest, _) = genRuns.last
    genRuns.init.foreach(g => deleteTree(g._1))
    val deterministic = genRuns.map(_._4).distinct.size == 1
    println(s"perfbench input ${wl.name} seed=$seed rows=$rows bytes=$bytes digest=$digest " +
      s"generations=$Generations deterministic=$deterministic")
    val inputSizes = Files.list(in).iterator().asScala
      .map(p => p.getFileName.toString -> Gen.sizeOf(p)).toMap

    val out = work.resolve("output")
    val iterations = mutable.ArrayBuffer[String]()
    val allSpans   = mutable.ArrayBuffer[Span]()
    var nextSpan   = 0

    def iteration(i: Int, phase: String, traced: Boolean): Double = {
      reset(spark, out)
      probe.take()
      val traceId = s"${wl.name}-$i"
      val rootId  = nextSpan
      if (traced) probe.traced(true)
      probe.enter(if (traced) "-" else "iteration", group = false)
      val t0  = System.nanoTime
      val ctx = new Ctx(spark, in, out, probe, traced, traceId, t0, rootId, inputSizes)
      wl.run(ctx)
      val t1 = System.nanoTime
      val byKey = probe.take()
      if (traced) probe.traced(false)
      probe.enter("check", group = false)
      val verdict =
        try wl.check(ctx)
        catch { case NonFatal(e) => Verdict(Map("check" -> e.toString.take(500)), Map.empty, 0, 1) }
      probe.take()
      val total = new Counters
      byKey.values.foreach(total.add)
      val wall = (t1 - t0) / 1e9
      val failed = ctx.failed ++ verdict.wrongSteps.filterNot { case (k, _) => ctx.failed.contains(k) }
      if (traced) {
        allSpans += Span(rootId, -1, traceId, "iteration", "pipeline", ctx.secs(t0), ctx.secs(t1),
          None, Map.empty)
        allSpans ++= ctx.spans.map(s =>
          s.copy(counters = byKey.get(s.name), facts = verdict.facts.getOrElse(s.name, Map.empty) ++
            ctx.inputBytes.get(s.name).map("input_bytes" -> _)))
        nextSpan += ctx.spans.size + 1
      }
      iterations += Json.obj(
        "index" -> Json.num(i), "phase" -> Json.str(phase), "traced" -> Json.bool(traced),
        "wall_s" -> Json.num(wall), "harness_s" -> Json.num(ctx.harnessS(t1)),
        "attempted" -> Json.num(ctx.attempted.size), "failed" -> Json.num(failed.size),
        "errors" -> Json.obj(failed.toSeq.map { case (k, v) => k -> Json.str(v) }: _*),
        "found" -> Json.num(verdict.found), "planted" -> Json.num(verdict.planted),
        "counters" -> Json.obj(total.fields.map { case (k, v) => k -> Json.num(v) }: _*),
      )
      failed.foreach { case (k, v) => System.err.println(s"perfbench: $phase $i step $k failed: $v") }
      wall
    }

    val warmupS = iteration(0, "warmup", traced = false)

    // Closed loop: one pipeline at a time, iterations back to back, until
    // the measuring time is spent and at least two iterations ran (four
    // when traced). Traced runs alternate traced and untraced iterations in
    // the order T U U T, so JIT warm-up drift cancels out of the overhead.
    val deadline = System.nanoTime + (seconds * 1e9).toLong
    val least    = if (trace) 4 else 2
    var i        = 1
    while (System.nanoTime < deadline || i <= least) {
      iteration(i, "measure", traced = trace && i % 4 < 2)
      i += 1
    }

    reset(spark, out)
    spark.stop()
    val doc = Json.obj(
      "workload" -> Json.str(wl.name), "seed" -> Json.num(seed), "cores" -> Json.num(cores),
      "input" -> Json.obj("rows" -> Json.num(rows), "bytes" -> Json.num(bytes),
        "digest" -> Json.str(digest), "deterministic" -> Json.bool(deterministic)),
      "setup" -> Json.obj("session_s" -> Json.num(sessionS),
        "generate_s" -> Json.arr(genRuns.map(g => Json.num(g._5))),
        "warmup_s" -> Json.num(warmupS)),
      "iterations" -> Json.arr(iterations.toSeq),
      "spans" -> Json.arr(allSpans.toSeq.map(spanJson)),
    )
    Files.write(result, doc.getBytes("UTF-8"))
  }

  private def spanJson(s: Span): String = Json.obj(
    "id" -> Json.num(s.id), "parent" -> Json.num(s.parent), "trace" -> Json.str(s.trace),
    "name" -> Json.str(s.name), "layer" -> Json.str(s.layer),
    "start" -> Json.num(s.start), "end" -> Json.num(s.end),
    "counters" -> Json.obj(s.counters.map(_.fields).getOrElse(Nil).map { case (k, v) =>
      k -> Json.num(v) }: _*),
    "facts" -> Json.obj(s.facts.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }: _*),
  )

  /** Drops every table and cached plan and clears the output directory, so
    * each iteration starts from the same state.
    */
  private def reset(spark: SparkSession, out: Path): Unit = {
    spark.catalog.listTables().collect().foreach { t =>
      if (t.isTemporary) spark.catalog.dropTempView(t.name)
      else spark.sql(s"DROP TABLE IF EXISTS `${t.name}`")
    }
    spark.catalog.clearCache()
    deleteTree(out)
    Files.createDirectories(out)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p).iterator().asScala.toSeq.reverse
      all.foreach(Files.delete)
    }

  /** Total size of the data files under `dir` and a digest of their
    * content: the bytes of each file, ignoring names (Spark-written names
    * carry random ids), and the rows of parquet files ([[Gen.parquet]]).
    */
  def digestOf(dir: Path): (Long, String) = {
    val files = Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
    def name(p: Path) = p.getFileName.toString
    val data    = files.filterNot(p => name(p).startsWith(".") || name(p).startsWith("_"))
    val hashed  = data.filterNot(name(_).endsWith(".parquet")) ++ files.filter(name(_) == Gen.RowsDigest)
    val perFile = hashed.map(f => hex(MessageDigest.getInstance("SHA-256").digest(Files.readAllBytes(f))))
    val all = MessageDigest.getInstance("SHA-256").digest(perFile.sorted.mkString("\n").getBytes("UTF-8"))
    (data.map(Files.size).sum, hex(all).take(16))
  }

  private def hex(b: Array[Byte]): String = b.map(x => f"${x & 0xff}%02x").mkString
}

/** Minimal JSON rendering for the harness's result file. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'           => b ++= "\\\""
      case '\\'          => b ++= "\\\\"
      case c if c < ' '  => b ++= f"\\u${c.toInt}%04x"
      case c             => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def num(l: Long): String = l.toString
  def bool(b: Boolean): String = b.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kvs: (String, String)*): String =
    kvs.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
