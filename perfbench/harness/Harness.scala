package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.miw.{LogFormat, MiwCli, MiwEngine}

/** One attempted operation: a `MiwCli.execute` call or one gate query.
  * Every attempt is reported, failed or not. */
final case class Op(name: String, setup: Boolean, traced: Boolean, wall: Double,
                    error: Option[String], output: Option[String])

/** A benchmark workload as the harness drives it. */
trait Workload {
  val ops = ArrayBuffer.empty[Op]
  /** Traced-run layer figures, one map per traced run. */
  val layerRuns = ArrayBuffer.empty[Map[String, Double]]
  /** Traced-run figures that fail a consistency check. */
  val warnings = ArrayBuffer.empty[String]
  /** One untimed run that warms the session. */
  def warmup(spark: SparkSession): Unit
  /** One timed, untraced run; returns its wall time in seconds. */
  def run(spark: SparkSession, k: Int): Double
  /** One traced run; returns its traced wall time and adds to `layerRuns`. */
  def traced(spark: SparkSession, tracer: Tracer, k: Int): Double
  def inputBytes: Long
}

object Harness {
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def write(path: String, v: Any): Unit =
    Files.write(Paths.get(path), json.writeValueAsBytes(v))

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The session settings `MiwCli.main` and `Bench.main` use. */
  def settings(cores: Int, work: String): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.ui.enabled" -> "false",
    "spark.local.dir" -> s"$work/spark-local",
    "spark.sql.warehouse.dir" -> s"$work/warehouse")

  def session(cores: Int, work: String): SparkSession = {
    val b = SparkSession.builder().appName("perfbench")
    settings(cores, work).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def main(argv: Array[String]): Unit = {
    val cfg = new ObjectMapper().readTree(new File(argv(0)))
    val workload = cfg.get("workload").asText
    val seconds = cfg.get("seconds").asDouble
    val trace = cfg.get("trace").asBoolean
    val cores = cfg.get("cores").asInt
    val work = cfg.get("work").asText
    val settle = cfg.get("settle_runs").asInt
    val minRuns = cfg.get("min_runs").asInt
    val w: Workload =
      if (workload == "gate_iterative") new Gate(cfg.get("gate"), work)
      else new Miw(cfg.get("miw"), s"$work/out", cores)

    // set-up: SparkSession start plus one warm-up run, in this fresh JVM
    val t0Setup = System.nanoTime()
    val spark = session(cores, work)
    w.warmup(spark)
    val setup = secs(t0Setup)

    // untimed runs that let the JIT settle before the measured window
    (1 to settle).foreach(_ => w.warmup(spark))

    // closed loop: each run starts when the previous one ends
    val walls = ArrayBuffer.empty[Double]
    val tracedWalls = ArrayBuffer.empty[Double]
    val tracer = new Tracer(spark.sparkContext)
    val t0 = System.nanoTime()
    var k = 0
    def tracedRun(): Unit = {
      tracer.attach()
      try tracedWalls += w.traced(spark, tracer, k) finally tracer.detach()
    }
    while (k < minRuns || secs(t0) < seconds) {
      // traced runs alternate which goes first, so warm-up drift does not
      // bias tracing.overhead_s
      if (trace && k % 2 == 1) tracedRun()
      walls += w.run(spark, k)
      if (trace && k % 2 == 0) tracedRun()
      k += 1
    }
    val measured = secs(t0)

    val layers =
      if (!trace) Map.empty[String, Double]
      else {
        val names = w.layerRuns.flatMap(_.keys).distinct
        names.map(n => n -> median(w.layerRuns.flatMap(_.get(n)).toSeq)).toMap +
          ("tracing.overhead_s" -> (median(tracedWalls.toSeq) - median(walls.toSeq)))
      }
    if (trace) write(s"$work/spans.json", tracer.report())

    val conf = settings(cores, work).toMap ++ Map(
      "spark.version" -> spark.version,
      "java.version" -> System.getProperty("java.version"),
      "jvm.max_heap_mb" -> (Runtime.getRuntime.maxMemory >> 20).toString)
    val ops = w.ops.map { o =>
      Map("name" -> o.name, "setup" -> o.setup, "traced" -> o.traced, "wall_s" -> o.wall,
        "error" -> o.error, "output" -> o.output)
    }
    val result = Map(
      "workload" -> workload, "settings" -> conf, "setup_s" -> setup,
      "walls_s" -> walls, "traced_walls_s" -> tracedWalls, "measured_s" -> measured,
      "input_bytes" -> w.inputBytes, "layers" -> layers, "ops" -> ops,
      "warnings" -> w.warnings)
    write(s"$work/harness.json", result)
    spark.stop()
  }
}

/** `MiwCli.execute` over generated log text, output to a CSV file. */
final class Miw(cfg: JsonNode, outDir: String, cores: Int) extends Workload {
  private val fnames = cfg.get("fnames").elements().asScala.map(_.asText).toSeq
  private val format = cfg.get("format").asText
  private val digests = mutable.Map.empty[String, String]
  private var counts: Option[(Long, Long)] = None
  new File(outDir).mkdirs()

  def inputBytes: Long = fnames.map(f => new File(f).length).sum

  private def execute(spark: SparkSession, out: String): Option[String] =
    try {
      MiwCli.execute(spark, Array("-fnames", fnames.mkString(","), "-format_name", format,
        "-output_format", "csv", "-ofname", out))
      None
    } catch { case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}") }

  /** Records one attempt. The output's digest is over its sorted lines, so
    * row order does not matter; one file per distinct digest is kept for
    * the checks, the others are deleted. */
  private def record(out: String, wall: Double, setup: Boolean, traced: Boolean,
                     error: Option[String]): Unit = {
    val f = new File(out)
    val kept =
      if (error.isDefined || !f.isFile) None
      else {
        val lines = Files.readAllLines(f.toPath, UTF_8).asScala.sorted
        val md = MessageDigest.getInstance("SHA-256")
        lines.foreach(l => md.update((l + "\n").getBytes(UTF_8)))
        val d = md.digest().map("%02x".format(_)).mkString
        val first = digests.getOrElseUpdate(d, out)
        if (first != out) f.delete()
        Some(first)
      }
    val err = error.orElse(if (f.isFile || kept.isDefined) None else Some("no output file"))
    ops += Op("miw", setup, traced, wall, err, kept)
  }

  private def outFile(tag: String): String = s"$outDir/$tag.csv"

  def warmup(spark: SparkSession): Unit = {
    val out = outFile(s"setup${ops.size}")
    val t0 = System.nanoTime()
    val err = execute(spark, out)
    record(out, Harness.secs(t0), setup = true, traced = false, err)
  }

  def run(spark: SparkSession, k: Int): Double = {
    val out = outFile(s"run$k")
    val t0 = System.nanoTime()
    val err = execute(spark, out)
    val wall = Harness.secs(t0)
    record(out, wall, setup = false, traced = false, err)
    wall
  }

  /** The layers are lazy, so the traced run times cumulative prefixes:
    * scan, scan+parse, scan+parse+aggregate (each to the `noop` sink),
    * then the real `MiwCli.execute`. A layer's self time is its prefix
    * minus the one before. Each prefix is a separate execution, so noise
    * can make a self time negative; prefixes that do not increase are
    * reported as a warning. */
  def traced(spark: SparkSession, tracer: Tracer, k: Int): Double = {
    val out = outFile(s"traced$k")
    def lines() = spark.read.textFile(fnames: _*).toDF("value")
    val ((compile, scan, parse, agg, sink, err), _) = tracer.span("miw.run", k) {
      val (fmt, compile) = tracer.span("LogFormat.compile", k)(LogFormat.parseFile(format))
      val (_, scan) = tracer.span("prefix.scan", k)(Harness.noop(lines()))
      val (_, parse) = tracer.span("prefix.parse", k)(Harness.noop(MiwEngine.parse(fmt, lines())))
      val (_, agg) = tracer.span("prefix.aggregate", k)(
        Harness.noop(MiwEngine.aggregate(fmt, MiwEngine.parse(fmt, lines()))))
      val (err, sink) = tracer.span("prefix.sink", k)(execute(spark, out))
      (compile, scan, parse, agg, sink, err)
    }
    val outBytes = new File(out).length
    val groups = if (new File(out).isFile) Files.lines(Paths.get(out)).count() else 0L
    record(out, sink.seconds, setup = false, traced = true, err)
    tracer.drain()

    // rows in and out of the parse layer are properties of the input:
    // counted once, outside the traced spans
    val (rowsIn, rowsOut) = counts.getOrElse {
      val fmt = LogFormat.parseFile(format)
      val c = (lines().count(), MiwEngine.parse(fmt, lines()).count())
      counts = Some(c)
      c
    }
    val prefixes = Seq("scan" -> scan, "parse" -> parse, "aggregate" -> agg, "sink" -> sink)
    if (prefixes.sliding(2).exists { case Seq(a, b) => b._2.seconds < a._2.seconds })
      warnings += s"traced run $k: prefix timings not increasing: " +
        prefixes.map { case (n, s) => f"$n ${s.seconds}%.4f s" }.mkString(", ")
    val busy = sink.runTimeMs.get / 1e3 / (sink.seconds * cores)
    layerRuns += Map(
      "LogFormat.compile_s" -> compile.seconds,
      "scan.self_s" -> scan.seconds,
      "MiwEngine.parse.self_s" -> (parse.seconds - scan.seconds),
      "MiwEngine.parse.rows_in" -> rowsIn.toDouble,
      "MiwEngine.parse.rows_out" -> rowsOut.toDouble,
      "MiwEngine.parse.keep_ratio" -> rowsOut.toDouble / rowsIn,
      "MiwEngine.aggregate.self_s" -> (agg.seconds - parse.seconds),
      "MiwEngine.aggregate.shuffle_write_bytes" -> agg.shuffleWrite.get.toDouble,
      "MiwEngine.aggregate.shuffle_read_bytes" -> agg.shuffleRead.get.toDouble,
      "MiwEngine.aggregate.shuffle_records" -> agg.shuffleRecords.get.toDouble,
      "MiwEngine.aggregate.spill_bytes" -> agg.spill.get.toDouble,
      "MiwEngine.aggregate.groups" -> (groups - 1).toDouble, // less the CSV header
      "MiwEngine.aggregate.combine_ratio" -> agg.shuffleRecords.get.toDouble / rowsOut,
      "Output.self_s" -> (sink.seconds - agg.seconds),
      "Output.bytes" -> outBytes.toDouble,
      "spark.jobs" -> sink.jobs.get.toDouble,
      "spark.stages" -> sink.stages.get.toDouble,
      "spark.tasks" -> sink.tasks.get.toDouble,
      "spark.task_busy_ratio" -> busy,
      "jvm.gc_s" -> sink.gcSeconds)
    sink.seconds
  }
}

/** One pass, in fixed order, over the gate queries of `SparkEntry`. */
final class Gate(cfg: JsonNode, work: String) extends Workload {
  private val dir = cfg.get("data_dir").asText
  private val queries = cfg.get("queries").elements().asScala.map(_.asText).toSeq
  private val fns = SparkEntry.queries
  private val dumpDir = s"$work/dumps"
  Harness.write(s"$work/oracle_sql.json",
    SparkEntry.oracleSql.filter { case (q, _) => queries.contains(q) })

  def inputBytes: Long =
    Option(new File(dir).listFiles()).toSeq.flatten.map(_.length).sum

  private def attempt(q: String, setup: Boolean, traced: Boolean)(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    val err =
      try { body; None }
      catch { case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}") }
    ops += Op(q, setup, traced, Harness.secs(t0), err,
      if (setup) Some(s"$dumpDir/$q") else None)
  }

  /** The warm-up pass writes each result as parquet for the oracle check. */
  def warmup(spark: SparkSession): Unit =
    queries.foreach { q =>
      attempt(q, setup = true, traced = false) {
        fns(q)(spark, dir).write.mode("overwrite").parquet(s"$dumpDir/$q")
      }
    }

  def run(spark: SparkSession, k: Int): Double = {
    val t0 = System.nanoTime()
    queries.foreach(q => attempt(q, setup = false, traced = false)(Harness.noop(fns(q)(spark, dir))))
    Harness.secs(t0)
  }

  /** Each query splits into build (the query function call, which runs
    * the eager per-round jobs), plan (`executedPlan`) and exec (the
    * `noop` write). */
  def traced(spark: SparkSession, tracer: Tracer, k: Int): Double = {
    val perQuery = ArrayBuffer.empty[(String, Span)]
    val (_, pass) = tracer.span("gate.pass", k) {
      queries.foreach { q =>
        val (_, qs) = tracer.span(s"gate.$q", k) {
          attempt(q, setup = false, traced = true) {
            val (df, _) = tracer.span("queries.build", k)(fns(q)(spark, dir))
            tracer.span("catalyst.plan", k)(df.queryExecution.executedPlan)
            tracer.span("queries.exec", k)(Harness.noop(df))
          }
        }
        perQuery += q -> qs
      }
    }
    val cores = spark.sparkContext.defaultParallelism
    tracer.drain()
    val leaves = tracer.subtree(pass)
      .filter(s => s.name.startsWith("queries.") || s.name == "catalyst.plan")
    def sum(name: String)(f: Span => Double): Double =
      leaves.filter(_.name == name).map(f).sum
    val perQ = perQuery.flatMap { case (q, s) =>
      def child(n: String) = tracer.spans.find(c => c.parent == s.id && c.name == n)
      Seq(s"gate.$q.build_s" -> child("queries.build").map(_.seconds).getOrElse(0.0),
        s"gate.$q.exec_s" -> child("queries.exec").map(_.seconds).getOrElse(0.0),
        s"gate.$q.jobs" -> tracer.total(s, _.jobs).toDouble)
    }
    layerRuns += (Map(
      "queries.build.self_s" -> sum("queries.build")(_.seconds),
      "queries.build.jobs" -> sum("queries.build")(_.jobs.get.toDouble),
      "queries.build.tasks" -> sum("queries.build")(_.tasks.get.toDouble),
      "queries.build.shuffle_write_bytes" -> sum("queries.build")(_.shuffleWrite.get.toDouble),
      "catalyst.plan.self_s" -> sum("catalyst.plan")(_.seconds),
      "queries.exec.self_s" -> sum("queries.exec")(_.seconds),
      "queries.exec.jobs" -> sum("queries.exec")(_.jobs.get.toDouble),
      "queries.exec.shuffle_write_bytes" -> sum("queries.exec")(_.shuffleWrite.get.toDouble),
      "spark.jobs" -> tracer.total(pass, _.jobs).toDouble,
      "spark.stages" -> tracer.total(pass, _.stages).toDouble,
      "spark.tasks" -> tracer.total(pass, _.tasks).toDouble,
      "spark.task_busy_ratio" ->
        tracer.total(pass, _.runTimeMs) / 1e3 / (pass.seconds * cores),
      "jvm.gc_s" -> pass.gcSeconds,
      "trace.layer_self_sum_s" -> leaves.map(_.seconds).sum,
      "trace.wall_s" -> pass.seconds) ++ perQ)
    pass.seconds
  }
}
