package kgbench

import com.fasterxml.jackson.databind.node.ObjectNode
import graft.ac.DictionaryNer
import graft.core.{Candidate, Doc, DocMentions}
import graft.disambig.StrategyRunner
import graft.link.LinkingStep
import graft.post.{Abbreviation, Cleanup, MergeOverlaps}
import graft.run.{Artifacts, KgPipeline}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.util.LongAccumulator

import scala.collection.mutable

/** Spans recorded around the benchmark's calls into the engine: name,
  * start, end, parent span and the id of the run they belong to. Kept in
  * memory and written with the record; a no-op unless tracing. */
final class Tracer(val enabled: Boolean) {
  final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long, run: String)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var runId = "setup"

  def inRun[T](id: String)(body: => T): T = {
    val prev = runId; runId = id
    try body finally runId = prev
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, name, t0, System.nanoTime(), runId)
        stack = stack.tail
      }
    }

  def durations(name: String): Seq[Double] =
    spans.iterator.filter(_.name == name).map(s => (s.end - s.start) / 1e9).toSeq

  def median(name: String): Double = {
    val d = durations(name)
    if (d.isEmpty) 0.0 else Stats.median(d)
  }

  /** Self time per span name: its duration minus what its children cover
    * (children of one span run one after another, never overlapping). */
  def selfTimes: Map[String, Double] = {
    val childTime = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(c => c.end - c.start).sum }
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.end - s.start - childTime.getOrElse(s.id, 0L)).sum / 1e9
    }
  }

  def write(node: ObjectNode): Unit = {
    val arr = node.putArray("spans")
    val t0 = spans.headOption.map(_.start).getOrElse(0L)
    spans.foreach { s =>
      arr.addObject().put("id", s.id).put("parent", s.parent).put("name", s.name)
        .put("start_ms", (s.start - t0) / 1e6).put("end_ms", (s.end - t0) / 1e6).put("run", s.run)
    }
    val self = node.putObject("self_s")
    selfTimes.toSeq.sortBy(-_._2).foreach { case (n, v) => self.put(n, v) }
  }
}

/** Task- and stage-level counters from a listener the benchmark registers
  * in traced runs. `reset` opens a window; `summary` aggregates it. */
final class StageListener extends SparkListener {
  final case class TaskRow(stage: Int, runMs: Long, cpuNs: Long, gcMs: Long, inBytes: Long,
      shuffleWrite: Long, shuffleRead: Long, spill: Long)
  private val tasks = mutable.ArrayBuffer.empty[TaskRow]
  private var stages = 0
  private var jobs = 0

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += TaskRow(e.stageId, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.inputMetrics.bytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.totalBytesRead, m.memoryBytesSpilled + m.diskBytesSpilled)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { stages += 1 }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { jobs += 1 }

  def reset(spark: SparkSession): Unit = {
    org.apache.spark.KgbenchBus.drain(spark.sparkContext)
    synchronized { tasks.clear(); stages = 0; jobs = 0 }
  }

  /** Window totals; `perOp` divides the additive counters by the number
    * of operations the window ran. */
  def summary(spark: SparkSession, perOp: Int): Map[String, Double] = {
    org.apache.spark.KgbenchBus.drain(spark.sparkContext)
    synchronized {
      val n = math.max(perOp, 1).toDouble
      val mb = 1024.0 * 1024.0
      val longest = if (tasks.isEmpty) Seq.empty[Long]
        else tasks.groupBy(_.stage).values.maxBy(_.map(_.runMs).sum).map(_.runMs).toSeq
      val skew = if (longest.isEmpty) 0.0
        else longest.max / math.max(Stats.median(longest.map(_.toDouble)), 1.0)
      Map(
        "spark.task_s" -> tasks.map(_.runMs).sum / 1e3 / n,
        "spark.cpu_s" -> tasks.map(_.cpuNs).sum / 1e9 / n,
        "spark.gc_s" -> tasks.map(_.gcMs).sum / 1e3 / n,
        "spark.task_skew" -> skew,
        "spark.stages" -> stages / n,
        "spark.jobs" -> jobs / n,
        "spark.input_mb" -> tasks.map(_.inBytes).sum / mb / n,
        "spark.shuffle_write_mb" -> tasks.map(_.shuffleWrite).sum / mb / n,
        "spark.shuffle_read_mb" -> tasks.map(_.shuffleRead).sum / mb / n,
        "spark.spill_mb" -> tasks.map(_.spill).sum / mb / n)
    }
  }
}

/** A memo map that counts its lookups — the engine calls `get` once per
  * lookup, so hits + misses = lookups. */
final class CountingMemo[K, V](hits: LongAccumulator, misses: LongAccumulator)
    extends mutable.HashMap[K, V] {
  override def get(key: K): Option[V] = {
    val r = super.get(key)
    if (r.isDefined) hits.add(1) else misses.add(1)
    r
  }
}

/** Accumulators of the traced fold replica. */
final class FoldCounters(spark: SparkSession) extends Serializable {
  private def acc(n: String) = spark.sparkContext.longAccumulator(n)
  val docs = acc("docs")
  val acNs, linkNs, disambigNs, abbrevNs, cleanupNs, mergeNs = acc("ns")
  val acMentions, linkSearched, mapped, postIn, postOut = acc("mentions")
  val normHit, normMiss, linkHit, linkMiss = acc("memo")
}

object Replica {

  /** `KgPipeline.annotate`, step by step, as a `mapPartitions` of the
    * benchmark's own: the same public functions in the same order, each
    * doc wrapped in `KgPipeline.guardedDoc`, with `nanoTime` deltas summed
    * per step and the memo maps counting their hits. */
  def annotate(docs: Dataset[Doc], bc: Broadcast[Artifacts], c: FoldCounters,
      cfg: KgPipeline.Config = KgPipeline.Config()): Dataset[DocMentions] = {
    import docs.sparkSession.implicits._
    docs
      .filter((d: Doc) => d.error.isEmpty)
      .mapPartitions { rows =>
        val art = bc.value
        val runner = new StrategyRunner(art.gaz, art.ctx, cfg.runnerConfig, xref = art.xref)
        val byClass = LinkingStep.indexesByClass(art.indexes)
        val linkMemo = new CountingMemo[(String, String), Seq[Candidate]](c.linkHit, c.linkMiss)
        val normMemo = new CountingMemo[(String, String), String](c.normHit, c.normMiss)
        rows.map { d =>
          c.docs.add(1)
          KgPipeline.guardedDoc(d.docId, d.contentSha) {
            var t = System.nanoTime()
            def lap(a: LongAccumulator): Unit = { val now = System.nanoTime(); a.add(now - t); t = now }
            var mentions = DictionaryNer.scanText(art.dict, d.docId, d.content, normMemo)
            lap(c.acNs)
            c.acMentions.add(mentions.size)
            c.linkSearched.add(mentions.count(m => !LinkingStep.DefaultSkipNamespaces.contains(m.namespace)))
            mentions = mentions.map(LinkingStep.linkMention(_, byClass, linkMemo,
              cfg.linkTopN, LinkingStep.DefaultSkipNamespaces))
            lap(c.linkNs)
            var dm = runner.mapDoc(DocMentions(d.docId, d.contentSha, mentions))
            lap(c.disambigNs)
            c.mapped.add(dm.mentions.count(_.mappings.nonEmpty))
            c.postIn.add(dm.mentions.size)
            dm = dm.copy(mentions = Abbreviation.process(d.content, dm.mentions, cfg.excludeAbbrvs))
            lap(c.abbrevNs)
            dm = dm.copy(mentions = Cleanup.defaultCleanup(dm.mentions, cfg.stripUris))
            lap(c.cleanupNs)
            if (cfg.mergeOverlaps)
              dm = dm.copy(mentions = MergeOverlaps.process(dm.mentions, cfg.classOrder))
            lap(c.mergeNs)
            c.postOut.add(dm.mentions.size)
            dm
          }
        }
      }
  }

  /** Per-layer metrics of the fused fold from the replica's counters. */
  def metrics(c: FoldCounters): Seq[(String, Double)] = {
    val docs = math.max(c.docs.value, 1L).toDouble
    def frac(a: Long, b: Long) = if (b == 0) 0.0 else a.toDouble / b
    Seq(
      ("ac.scan_ns_per_doc", c.acNs.value / docs),
      ("ac.mentions_per_doc", c.acMentions.value / docs),
      ("ac.norm_memo_hit", frac(c.normHit.value, c.normHit.value + c.normMiss.value)),
      ("link.ns_per_doc", c.linkNs.value / docs),
      ("link.search_frac", frac(c.linkSearched.value, c.acMentions.value)),
      ("link.memo_hit", frac(c.linkHit.value, c.linkHit.value + c.linkMiss.value)),
      ("disambig.ns_per_doc", c.disambigNs.value / docs),
      ("disambig.mapped_frac", frac(c.mapped.value, c.postIn.value)),
      ("post.abbrev_ns_per_doc", c.abbrevNs.value / docs),
      ("post.cleanup_ns_per_doc", c.cleanupNs.value / docs),
      ("post.merge_ns_per_doc", c.mergeNs.value / docs),
      ("post.kept_frac", frac(c.postOut.value, c.postIn.value)))
  }

  /** Order-insensitive fingerprint of an annotated dataset: (rows, sum of
    * row hashes). Case-class hashes are structural, so two datasets with
    * equal rows fingerprint equal. */
  def fingerprint(ds: Dataset[DocMentions]): (Long, Long) = {
    import ds.sparkSession.implicits._
    ds.map(dm => (1L, dm.hashCode.toLong)).reduce((a, b) => (a._1 + b._1, a._2 + b._2))
  }
}

object Host {
  /** The machine's own ceilings at `threads`: a pure-CPU burn and a
    * memory-bandwidth burn (the engine's `ScalingBench` baselines). */
  def ceilings(threads: Int): (Double, Double) =
    (graft.ScalingBench.cpuBaseline(threads, 400000000L),
      graft.ScalingBench.memBaseline(threads, mbPerThread = 64, passes = 4))
}
