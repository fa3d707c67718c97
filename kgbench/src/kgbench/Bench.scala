package kgbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** Entry point of the KG-construction benchmark (see kgbench/README.md).
  *
  *   kgbench.Bench --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                 [--size <n>] --work <dir> --record <file> --result <file>
  *
  * The run uses every core the JVM may use: `local[nproc]`, and
  * `local[nproc/4]` for kg_build's scaling leg.
  *
  * Generates the workload's inputs into `--work` before any clock starts,
  * runs the workload through the engine's public functions, checks every
  * output, prints `metric <name> <value> <unit>` lines, writes the full
  * record to `--record` and the compact summary to `--result`. */
object Bench {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      cores: Int, size: Int, work: String, record: String, result: String)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      Runtime.getRuntime.availableProcessors, m.get("size").map(_.toInt).getOrElse(0), m("work"), m("record"), m("result"))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val rec = new Record(args)
    val body: Ctx => Unit = args.workload match {
      case "kg_build" => Workloads.kgBuild
      case "kg_large_vocab" => Workloads.kgLargeVocab
      case "kg_incremental" => Workloads.kgIncremental
      case "graph_canon" => Workloads.graphCanon
      case other => sys.error(s"unknown workload $other")
    }
    val ctx = new Ctx(args, rec)
    ctx.phase("inputs")
    try body(ctx)
    finally ctx.stopSession()
    ctx.phase("done")
    rec.write()
  }
}

/** Per-run context: arguments, the record, the tracer and the one Spark
  * session the run holds at a time. */
final class Ctx(val args: Bench.Args, val rec: Record) {
  val tracer = new Tracer(args.trace)
  val work: String = args.work
  private var session: SparkSession = _
  private var listener: StageListener = _

  def spark: SparkSession = session

  /** A fresh `local[cores]` session with the settings of `graft.run.Main`
    * (adaptive execution and skew joins on); local dirs stay in the run's
    * work dir. In a traced run a [[StageListener]] is registered. */
  def newSession(cores: Int): SparkSession = {
    stopSession()
    session = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"kgbench-${args.workload}")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.shuffle.partitions", (cores * 2).toString)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    session.sparkContext.setLogLevel("ERROR")
    if (args.trace) {
      if (listener == null) listener = new StageListener
      session.sparkContext.addSparkListener(listener)
    }
    session
  }

  def stopSession(): Unit = if (session != null) {
    session.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    session = null
  }

  def stageListener: Option[StageListener] = Option(listener)

  private val started = System.nanoTime()

  /** Marks the start of a phase of the run on stdout, with the seconds
    * since the run started. */
  def phase(name: String): Unit =
    println(f"phase $name%-12s at ${(System.nanoTime() - started) / 1e9}%7.2f s")

  /** Run `op` repeatedly until `seconds` have passed (at least `minReps`
    * times, at most `maxReps`), returning each call's wall seconds. */
  def repeat(seconds: Double, minReps: Int, maxReps: Int = 1000)(op: Int => Unit): Seq[Double] =
    repeatTimed(seconds, minReps, maxReps) { i =>
      val t0 = System.nanoTime()
      op(i)
      (System.nanoTime() - t0) / 1e9
    }

  /** As [[repeat]], but `op` times the part of its call that is measured
    * and returns those seconds. */
  def repeatTimed(seconds: Double, minReps: Int, maxReps: Int = 1000)(op: Int => Double): Seq[Double] = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val out = mutable.ArrayBuffer.empty[Double]
    while (out.size < maxReps && (out.size < minReps || System.nanoTime() < deadline)) out += op(out.size)
    out.toSeq
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it, as
    * (percentile, value); None below eleven samples. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] =
    if (xs.size < 11) None
    else {
      val s = xs.sorted
      val idx = s.size - 11
      Some((math.floor(100.0 * (idx + 1) / s.size).toInt, s(idx)))
    }
}

/** Everything a run measures. `e2e` and `layer` hold the metrics of the
  * summary line (end-to-end in an untraced run, per-layer in a traced
  * one); `named` holds the issue-level metrics of each workload with their
  * sample counts; gates are the correctness checks. */
final class Record(args: Bench.Args) {
  private val mapper = new ObjectMapper()
  val root: ObjectNode = mapper.createObjectNode()
  private val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val named = mapper.createObjectNode()
  private val gates = mapper.createArrayNode()
  private var allGatesPass = true
  var attempted = 0L
  var failed = 0L

  root.put("workload", args.workload).put("seed", args.seed)
    .put("seconds", args.seconds).put("trace", args.trace).put("cores", args.cores)

  private def show(kind: String, name: String, v: Double, unit: String, extra: String = ""): Unit =
    println(f"metric $name%-28s $v%.6g $unit%-7s [$kind]$extra")

  def endToEnd(name: String, v: Double, unit: String): Unit = {
    e2e(name) = (v, unit); show("end_to_end", name, v, unit)
  }

  def perLayer(name: String, v: Double, unit: String): Unit = {
    layer(name) = (v, unit); show("per_layer", name, v, unit)
  }

  /** An issue-named metric: a timing is given as its median, its tail
    * (highest percentile with >= 10 samples beyond) and sample count. */
  def timing(name: String, samples: Seq[Double], unit: String = "s"): Double = {
    val n = named.putObject(name).put("unit", unit).put("n", samples.size)
      .put("median", Stats.median(samples))
    val arr = n.putArray("samples"); samples.foreach(arr.add)
    val t = Stats.tail(samples)
    t.foreach { case (p, v) => n.put("tail_pct", p).put("tail", v) }
    show("named", name, Stats.median(samples), unit,
      s" n=${samples.size}" + t.map { case (p, v) => f" p$p=$v%.6g" }.getOrElse(""))
    Stats.median(samples)
  }

  def value(name: String, v: Double, unit: String, note: String = ""): Unit = {
    val n = named.putObject(name).put("unit", unit).put("value", v)
    if (note.nonEmpty) n.put("note", note)
    show("named", name, v, unit, if (note.nonEmpty) s" $note" else "")
  }

  def gate(name: String, ok: Boolean, detail: String): Unit = {
    gates.addObject().put("gate", name).put("pass", ok).put("detail", detail)
    allGatesPass &&= ok
    println(s"gate ${if (ok) "PASS" else "FAIL"} $name: $detail")
  }

  def info(key: String): ObjectNode =
    if (root.has(key)) root.get(key).asInstanceOf[ObjectNode] else root.putObject(key)

  def write(): Unit = {
    val summary = mapper.createObjectNode()
    summary.put("correct", allGatesPass && failed == 0 && attempted > 0)
      .put("attempted", attempted).put("failed", failed)
    val ms = summary.putObject("metrics")
    for ((k, (v, u)) <- if (args.trace) layer else e2e) ms.putObject(k).put("value", v).put("unit", u)
    root.set[ObjectNode]("summary", summary.deepCopy())
    root.set[ObjectNode]("named", named)
    root.set("gates", gates)
    val lm = root.putObject("per_layer")
    for ((k, (v, u)) <- layer) lm.putObject(k).put("value", v).put("unit", u)
    val em = root.putObject("end_to_end")
    for ((k, (v, u)) <- e2e) em.putObject(k).put("value", v).put("unit", u)
    Files.createDirectories(Paths.get(args.record).getParent)
    mapper.writerWithDefaultPrettyPrinter().writeValue(new java.io.File(args.record), root)
    mapper.writeValue(new java.io.File(args.result), summary)
  }
}
