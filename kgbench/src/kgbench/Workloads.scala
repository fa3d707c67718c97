package kgbench

import graft.ac.DictionaryNer
import graft.core.{DocMentions, MentionConfidence}
import graft.datagen.CorpusGen
import graft.disambig.ContextScorer
import graft.gazetteer.{Behaviour, Curation, Gazetteer, GazetteerBuilder}
import graft.graph.{ConnectedComponents, SnapshotTable, Traversal, TripleSink, Triples, XrefManager}
import graft.link.DictionaryIndex
import graft.run.{Artifacts, Checkpointer, IncrementalKg, KgPipeline, Main, Stages}
import graft.sources.OntologySources
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.util.SizeEstimator

import java.io.File

/** The four workloads. Each generates its inputs first, then measures
  * set-up, then runs its operation repeatedly for the run's seconds, then
  * checks every output. Traced runs add the per-layer measurements. */
object Workloads {

  /** Per-layer metrics every traced run reports; a layer a workload does
    * not exercise reads 0. */
  val LayerMetrics: Seq[(String, String)] = Seq(
    "sources.read_s" -> "s", "gazetteer.build_s" -> "s", "gazetteer.terms" -> "count",
    "gazetteer.mb" -> "MB", "ac.build_s" -> "s", "ac.keys" -> "count", "ac.mb" -> "MB",
    "link.index_build_s" -> "s", "link.index_mb" -> "MB", "disambig.ctx_build_s" -> "s",
    "disambig.ctx_mb" -> "MB", "run.broadcast_s" -> "s", "run.read_ingest_s" -> "s",
    "ac.scan_ns_per_doc" -> "ns", "ac.mentions_per_doc" -> "count", "ac.norm_memo_hit" -> "ratio",
    "link.ns_per_doc" -> "ns", "link.search_frac" -> "ratio", "link.memo_hit" -> "ratio",
    "disambig.ns_per_doc" -> "ns", "disambig.mapped_frac" -> "ratio",
    "post.abbrev_ns_per_doc" -> "ns", "post.cleanup_ns_per_doc" -> "ns",
    "post.merge_ns_per_doc" -> "ns", "post.kept_frac" -> "ratio",
    "graph.triples_per_doc" -> "count", "graph.sink_write_s" -> "s", "graph.sink_mb" -> "MB",
    "graph.sink_files" -> "count", "spark.task_s" -> "s", "spark.cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.task_skew" -> "ratio", "spark.stages" -> "count", "spark.jobs" -> "count", "spark.input_mb" -> "MB",
    "spark.shuffle_write_mb" -> "MB", "spark.shuffle_read_mb" -> "MB", "spark.spill_mb" -> "MB",
    "host.cpu_s" -> "s", "host.cpu_s_quarter" -> "s", "host.membw_s" -> "s",
    "host.membw_s_quarter" -> "s", "trace.overhead" -> "ratio")

  /** Per-layer metrics of the snapshot table and the incremental run,
    * reported by kg_incremental's traced run only. */
  val IncrementalLayerMetrics: Seq[(String, String)] = Seq(
    "snapshot.append_s" -> "s", "snapshot.list_s" -> "s", "snapshot.manifests" -> "count",
    "run.tick_docs" -> "count", "run.resume_stage_hits" -> "count", "snapshot.replay_noop" -> "count")

  /** Per-layer metrics of the graph operators, reported by graph_canon's
    * traced run only. */
  val GraphLayerMetrics: Seq[(String, String)] = Seq(
    "graph.cc_s" -> "s", "graph.cc_components" -> "count", "graph.cc_incremental_s" -> "s",
    "graph.closure_s" -> "s", "graph.closure_pairs" -> "count", "graph.condense_s" -> "s",
    "graph.kcore_s" -> "s", "graph.kcore_members" -> "count")

  private val MB = 1024.0 * 1024.0

  // ---------------------------------------------------------------- shared

  /** Per-layer values collected during a traced run, written at the end
    * in the order of `metrics`. */
  final class Layers(metrics: Seq[(String, String)] = LayerMetrics) {
    private val v = scala.collection.mutable.HashMap.empty[String, Double]
    def update(name: String, x: Double): Unit = {
      require(metrics.exists(_._1 == name), s"unknown per-layer metric $name")
      v(name) = x
    }
    def ++=(xs: Iterable[(String, Double)]): Unit = xs.foreach { case (n, x) => update(n, x) }
    def emit(rec: Record): Unit = metrics.foreach { case (n, u) => rec.perLayer(n, v.getOrElse(n, 0.0), u) }
  }

  /** Setup repeated from fresh sessions: at least 3 times and until 3 s
    * have passed (at most 15), so a cheap setup's median rests on more
    * samples. Each sample runs from session start to the end of `body`;
    * stopping the previous session is not timed. The session and value of
    * the last one are kept. Returns (value, seconds per setup). */
  private def timedSetup[T](ctx: Ctx, cores: Int)(body: SparkSession => T): (T, Seq[Double]) = {
    ctx.phase("setup")
    var last: T = null.asInstanceOf[T]
    val ts = ctx.repeatTimed(3, minReps = 3, maxReps = 15) { i =>
      ctx.stopSession()
      val t0 = System.nanoTime()
      ctx.tracer.inRun(s"setup-$i") { last = ctx.tracer.span("setup") { body(ctx.newSession(cores)) } }
      (System.nanoTime() - t0) / 1e9
    }
    (last, ts)
  }

  /** `Artifacts.build`, with its three builders timed one by one when
    * tracing (the same calls in the same order). */
  private def artifacts(ctx: Ctx, gaz: Gazetteer, xref: Option[XrefManager]): Artifacts =
    if (!ctx.tracer.enabled) Artifacts.build(gaz, xref)
    else {
      val t = ctx.tracer
      val dict = t.span("ac.build") { DictionaryNer.buildDictionary(gaz) }
      val idx = t.span("link.index_build") { DictionaryIndex.buildAll(gaz) }
      val cs = t.span("disambig.ctx_build") { ContextScorer.build(gaz) }
      Artifacts(gaz, dict, idx, cs, xref)
    }

  private def broadcast(ctx: Ctx, art: Artifacts): Broadcast[Artifacts] =
    ctx.tracer.span("run.broadcast") { KgPipeline.broadcastArtifacts(ctx.spark, art) }

  /** The demo-fixture artifacts `graft.run.Main` builds when given no
    * --ontology (the gazetteer the CorpusGen gold is planted against). */
  private def fixtureArtifacts(ctx: Ctx): Broadcast[Artifacts] = {
    val gaz = ctx.tracer.span("gazetteer.build") { CorpusGen.gazetteer }
    broadcast(ctx, artifacts(ctx, gaz,
      Some(XrefManager.fromEdges(CorpusGen.xrefEdges, CorpusGen.xrefSourceToParser))))
  }

  private def setupLayers(ctx: Ctx, art: Artifacts, layers: Layers): Unit = {
    val t = ctx.tracer
    Seq("sources.read", "gazetteer.build", "ac.build", "link.index_build", "disambig.ctx_build",
      "run.broadcast").foreach(n => layers(s"${n}_s") = t.median(n))
    layers("gazetteer.terms") = art.gaz.termsByParser.values.map(_.size).sum.toDouble
    layers("ac.keys") = art.dict.automaton.keys.length.toDouble
    layers("gazetteer.mb") = SizeEstimator.estimate(art.gaz) / MB
    layers("ac.mb") = SizeEstimator.estimate(art.dict) / MB
    layers("link.index_mb") = SizeEstimator.estimate(art.indexes) / MB
    layers("disambig.ctx_mb") = SizeEstimator.estimate(art.ctx) / MB
    ctx.rec.value("artifact_mb", SizeEstimator.estimate(art) / MB, "MB")
  }

  private def hostLayers(ctx: Ctx, layers: Layers): Unit = {
    val n = ctx.args.cores
    val (c1, m1) = Host.ceilings(n)
    val (c4, m4) = Host.ceilings(math.max(n / 4, 1))
    layers("host.cpu_s") = c1; layers("host.membw_s") = m1
    layers("host.cpu_s_quarter") = c4; layers("host.membw_s_quarter") = m4
  }

  private def dirStats(path: String): (Double, Int) = {
    def walk(f: File): Seq[File] = if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    val files = walk(new File(path)).filter(f => f.getName.endsWith(".parquet"))
    (files.map(_.length).sum / MB, files.size)
  }

  private def keysOf(df: DataFrame): Seq[Inputs.Key] =
    df.select("subj", "pred", "obj").collect().toSeq.map(r => Inputs.Key(r.getString(0), r.getString(1), r.getString(2)))

  /** Every triple row's contentSha equals sha256 of its doc's content. */
  private def shaGate(ctx: Ctx, triples: DataFrame, expected: Map[String, String]): Unit = {
    val rows = triples.select("subj", "contentSha").collect()
    val bad = rows.count(r => !expected.get(r.getString(0).takeWhile(_ != '#')).contains(r.getString(1)))
    ctx.rec.gate("content_sha", rows.nonEmpty && bad == 0, s"${rows.length} triple rows, $bad with a wrong contentSha")
  }

  private def scoreGate(ctx: Ctx, out: Seq[Inputs.Key], gold: Set[Inputs.Key], bound: Double = 0.95): Reference.Score = {
    val s = Reference.score(out, gold)
    val outSet = out.toSet
    (outSet.iterator.filterNot(gold).take(3).map("false positive " + _) ++
      gold.iterator.filterNot(outSet).take(3).map("false negative " + _)).foreach(println)
    ctx.rec.gate("triple_pr", s.precision >= bound && s.recall >= bound,
      f"P=${s.precision}%.4f R=${s.recall}%.4f (tp=${s.tp} out=${s.out} gold=${s.gold}, bound $bound)")
    s
  }

  private def e2e(ctx: Ctx, setup: Seq[Double], opP50: Double, s: Reference.Score): Unit = {
    val r = ctx.rec
    if (!ctx.args.trace) {
      r.endToEnd("setup_s", Stats.median(setup), "s")
      r.endToEnd("op_p50_s", opP50, "s")
      r.endToEnd("triple_precision", s.precision, "ratio")
      r.endToEnd("triple_recall", s.recall, "ratio")
    }
  }

  // ------------------------------------------------ kg_build / kg_large_vocab

  /** One full KG build, in `graft.run.Main`'s order: parquet read ->
    * Stages.ingest -> saltedRebalance -> quarantine sink ->
    * KgPipeline.annotate (or the traced replica) -> Triples.fromDocMentions
    * -> TripleSink.write. */
  private[kgbench] def kgBuildOnce(ctx: Ctx, corpusPath: String, out: String, quarantine: String,
      bc: Broadcast[Artifacts], counters: Option[FoldCounters]): Unit = {
    val spark = ctx.spark
    val t = ctx.tracer
    val docs = Stages.saltedRebalance(Stages.ingest(spark.read.parquet(corpusPath))(spark),
      math.max(spark.sparkContext.defaultParallelism * 2, 2))
    t.span("run.quarantine_write") {
      Stages.quarantine(docs).write.mode(SaveMode.Overwrite).parquet(quarantine)
    }
    val annotated = counters match {
      case Some(c) => Replica.annotate(docs, bc, c)
      case None => KgPipeline.annotate(docs, bc)
    }
    t.span("graph.sink_write") { TripleSink.write(Triples.fromDocMentions(annotated), out) }
  }

  /** The shared body of the two bulk-build workloads. */
  private def bulkBuild(ctx: Ctx, corpus: Inputs.Corpus, corpusPath: String,
      setup: SparkSession => Broadcast[Artifacts], warmups: Int, warmupCapS: Double,
      scaling: Boolean): Unit = {
    val a = ctx.args
    val rec = ctx.rec
    val n = corpus.rows.size
    rec.info("input").put("docs", n).put("mb", corpus.bytes / MB)
      .put("gold_triples", corpus.gold.size).put("quarantined", corpus.quarantined)
    val out = s"${ctx.work}/triples"
    val quarantine = s"${ctx.work}/quarantine"

    val (bc0, setupS) = timedSetup(ctx, a.cores)(setup)
    var bc = bc0
    ctx.phase("warm-up")
    // JIT warm-up, counted in builds: each build runs Spark's planning and
    // scheduling code once, and build times keep falling while the JIT
    // compiles it, for 40 builds and more of a fresh JVM. A warm-up counted
    // in seconds would stop earlier on that slope on a slower host, and
    // the window's median would move with it. `warmupCapS` (at least 8
    // builds) only bounds the run's length on a host far slower than usual
    val warm = ctx.repeat(warmupCapS, minReps = 8, maxReps = warmups)(_ =>
      kgBuildOnce(ctx, corpusPath, out, quarantine, bc, None))
    val warmRec = rec.info("warmup").put("builds", warm.size).put("seconds", warm.sum).putArray("samples")
    warm.foreach(warmRec.add)
    ctx.phase("measure")
    val layers = new Layers
    // a traced run alternates untraced builds with builds through the
    // instrumented fold replica, so JIT drift hits both legs alike
    val counters = if (a.trace) Some(new FoldCounters(ctx.spark)) else None
    ctx.stageListener.foreach(_.reset(ctx.spark))
    val tracedWalls = scala.collection.mutable.ArrayBuffer.empty[Double]
    val walls = ctx.repeat(a.seconds, minReps = 4) { i =>
      if (i % 2 == 1 && a.trace) {
        val t0 = System.nanoTime()
        ctx.tracer.inRun(s"traced-$i") { kgBuildOnce(ctx, corpusPath, out, quarantine, bc, counters) }
        tracedWalls += (System.nanoTime() - t0) / 1e9
      } else ctx.tracer.inRun(s"build-$i") { kgBuildOnce(ctx, corpusPath, out, quarantine, bc, None) }
    }.zipWithIndex.collect { case (w, i) if i % 2 == 0 || !a.trace => w }
    val listener = ctx.stageListener.map(_.summary(ctx.spark, walls.size + tracedWalls.size))
    val p50 = rec.timing("build_s", walls)
    val dps = n / p50
    rec.value("docs_per_s", dps, "docs/s", f"input $n docs, ${corpus.bytes / MB}%.1f MB")
    rec.attempted += n.toLong * walls.size

    ctx.phase("check")
    // outputs of the last build
    val triples = ctx.spark.read.parquet(out)
    val s = scoreGate(ctx, keysOf(triples), corpus.gold)
    shaGate(ctx, triples, corpus.contentSha)
    val tripleCount = triples.count()
    val q = ctx.spark.read.parquet(quarantine).select("docId", "contentSha").collect()
    val qBad = q.count(r => !corpus.contentSha.get(r.getString(0)).contains(r.getString(1)))
    rec.gate("quarantine", q.length == corpus.quarantined && qBad == 0,
      s"${q.length} quarantined (planted ${corpus.quarantined}), $qBad with a wrong contentSha")
    // docs whose fold errored (the planted giants never reach the fold)
    val docs = Stages.ingest(ctx.spark.read.parquet(corpusPath))(ctx.spark)
    val foldFailed = KgPipeline.failedDocs(KgPipeline.annotate(docs, bc)).count()
    rec.failed += foldFailed * walls.size
    rec.value("triple_precision", s.precision, "ratio")
    rec.value("triple_recall", s.recall, "ratio")

    if (a.trace) {
      // the fold replica must reproduce annotate exactly
      val counters0 = new FoldCounters(ctx.spark)
      val want = Replica.fingerprint(KgPipeline.annotate(docs, bc))
      val got = Replica.fingerprint(Replica.annotate(docs, bc, counters0))
      rec.gate("replica_hash", want == got, s"annotate $want, replica $got")
      layers ++= listener.get
      layers ++= Replica.metrics(counters.get)
      layers("trace.overhead") = 1.0 - (n / Stats.median(tracedWalls.toSeq)) / dps
      layers("graph.sink_write_s") = ctx.tracer.median("graph.sink_write")
      val (smb, sfiles) = dirStats(out)
      layers("graph.sink_mb") = smb; layers("graph.sink_files") = sfiles
      layers("graph.triples_per_doc") = tripleCount.toDouble / n
      // ingest pass whose consumers need docId, contentSha and error, so
      // the sha2 columns are computed, not pruned
      layers("run.read_ingest_s") = Stats.median((0 until 3).map { _ =>
        val t0 = System.nanoTime()
        ctx.tracer.span("run.read_ingest") {
          Stages.ingest(ctx.spark.read.parquet(corpusPath))(ctx.spark)
            .agg(count(lit(1)), sum(crc32(col("docId"))), sum(crc32(col("contentSha"))), count(col("error")))
            .collect()
        }
        (System.nanoTime() - t0) / 1e9
      })
      setupLayers(ctx, bc.value, layers)
      hostLayers(ctx, layers)
    } else if (scaling) {
      val quarter = math.max(a.cores / 4, 1)
      if (quarter < a.cores) {
        ctx.phase(s"local$quarter")
        ctx.newSession(quarter)
        bc = setup(ctx.spark)
        val wallsQ = ctx.repeat(0, minReps = 3)(_ => kgBuildOnce(ctx, corpusPath, out, quarantine, bc, None))
        rec.attempted += n.toLong * wallsQ.size
        val dpsQ = n / rec.timing(s"build_s_local$quarter", wallsQ)
        rec.value(s"docs_per_s_local$quarter", dpsQ, "docs/s")
        rec.value("scaling_eff", dps / (a.cores.toDouble / quarter * dpsQ), "ratio",
          s"local[${a.cores}] vs local[$quarter]")
      }
    }
    e2e(ctx, setupS, p50, s)
    if (a.trace) { layers.emit(rec); ctx.tracer.write(rec.info("tracing")) }
  }

  def kgBuild(ctx: Ctx): Unit = {
    val corpus = Inputs.standardCorpus(sizeOr(ctx, 6000), ctx.args.seed)
    val path = s"${ctx.work}/corpus"
    Inputs.writeCorpus(ctx.newSession(ctx.args.cores), corpus.rows, path, files = 8)
    bulkBuild(ctx, corpus, path, spark => {
      ctx.tracer.span("sources.read") { spark.read.parquet(path).schema }
      fixtureArtifacts(ctx)
    }, warmups = 30, warmupCapS = 50, scaling = true)
  }

  private def sizeOr(ctx: Ctx, default: Int): Int =
    if (ctx.args.size > 0) ctx.args.size else default

  def kgLargeVocab(ctx: Ctx): Unit = {
    val seed = ctx.args.seed
    val vocab = Inputs.vocab(sizeOr(ctx, 6000), seed)
    val corpus = Inputs.vocabCorpus(vocab, nDocs = 800, kb = 3, seed)
    val vocabPath = s"${ctx.work}/vocab.tsv"
    val curationsPath = s"${ctx.work}/curations.tsv"
    val path = s"${ctx.work}/corpus"
    Inputs.writeText(vocabPath, vocab.tsv)
    Inputs.writeText(curationsPath, vocab.curationsTsv)
    Inputs.writeCorpus(ctx.newSession(ctx.args.cores), corpus.rows, path, files = 8)
    ctx.rec.info("input").put("vocab_ids", vocab.size).put("shared_synonyms", vocab.shared.size)
      .put("case_sensitive_symbols", vocab.symbols.size)
    bulkBuild(ctx, corpus, path, spark => {
      import spark.implicits._
      val t = ctx.tracer
      // graft.run.Main's order: read -> distinct (syn, parser) -> curations
      // -> GazetteerBuilder.buildSpark -> Artifacts.build -> broadcast; the
      // curations file marks the synonyms that match case-sensitively
      val (cached, pairs, caseSensitive) = t.span("sources.read") {
        val rows = OntologySources.readTabular(spark, vocabPath, Inputs.VocabParser, Inputs.VocabClass).persist()
        val pairs = rows.map(r => (r.syn, r.parserName)).distinct().collect().toSeq
        val cs = spark.read.option("header", "true").option("sep", "\t").csv(curationsPath)
          .where(col("case_sensitive") === "true").select("syn").as[String].collect().toSet
        (rows, pairs, cs)
      }
      val curations = pairs.sorted.map { case (syn, parser) =>
        Curation(parser, syn, MentionConfidence.HIGHLY_LIKELY, Behaviour.ADD_FOR_NER_AND_LINKING,
          caseSensitive = caseSensitive(syn), None, None)
      }
      val gaz = t.span("gazetteer.build") { GazetteerBuilder.buildSpark(cached, curations) }
      cached.unpersist()
      broadcast(ctx, artifacts(ctx, gaz, None))
    }, warmups = 12, warmupCapS = 25, scaling = false)
  }

  // ------------------------------------------------------------ kg_incremental

  def kgIncremental(ctx: Ctx): Unit = {
    val a = ctx.args
    val rec = ctx.rec
    val baseDocs = 1000
    val deltaDocs = sizeOr(ctx, 100)
    val maxDeltas = 20
    val corpus = Inputs.standardCorpus(baseDocs + deltaDocs * maxDeltas, a.seed)
    val batchOf = (i: Int) => if (i < baseDocs) 0 else 1 + (i - baseDocs) / deltaDocs
    val input = s"${ctx.work}/batches"
    locally {
      val spark = ctx.newSession(a.cores)
      import spark.implicits._
      corpus.rows.zipWithIndex.map { case (r, i) => (r.repo, r.path, r.commit, r.lang, r.content, batchOf(i)) }
        .toDF("repo", "path", "commit", "lang", "content", "batch")
        .repartition(2).write.parquet(input)
    }
    rec.info("input").put("base_docs", baseDocs).put("delta_docs", deltaDocs)
    def batch(k: Int): DataFrame = ctx.spark.read.parquet(input).where(col("batch") === k).drop("batch")

    val (bc, setupS) = timedSetup(ctx, a.cores) { spark =>
      ctx.tracer.span("sources.read") { spark.read.parquet(input).schema }
      fixtureArtifacts(ctx)
    }
    val t = ctx.tracer
    val layers = new Layers(LayerMetrics ++ IncrementalLayerMetrics)
    val lst = ctx.stageListener
    ctx.phase("warm-up")
    // warm-up on throwaway tables
    locally {
      val (c, g) = (s"${ctx.work}/warm_corpus", s"${ctx.work}/warm_graph")
      (1 to 4).foreach { k =>
        new SnapshotTable(ctx.spark, c).append(batch(k))
        IncrementalKg.processIncrement(ctx.spark, c, g, bc)
      }
    }
    val corpusTbl = s"${ctx.work}/corpus_tbl"
    val graphTbl = s"${ctx.work}/graph_tbl"
    val corpusTable = new SnapshotTable(ctx.spark, corpusTbl)
    val graphTable = new SnapshotTable(ctx.spark, graphTbl)
    val appendS = scala.collection.mutable.ArrayBuffer.empty[Double]
    val listS = scala.collection.mutable.ArrayBuffer.empty[Double]
    var failedTicks = 0
    /** Appends delta `k`, then ticks; returns the `processIncrement` wall
      * alone (the append and the traced listing are timed apart). */
    def appendAndTick(k: Int): Double = {
      val t0 = System.nanoTime()
      t.span("snapshot.append") { corpusTable.append(batch(k)) }
      appendS += (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val outcome = t.span("run.tick") { IncrementalKg.processIncrement(ctx.spark, corpusTbl, graphTbl, bc) }
      val wall = (System.nanoTime() - t1) / 1e9
      if (!outcome.isInstanceOf[IncrementalKg.Processed]) failedTicks += 1
      if (t.enabled) {
        val t2 = System.nanoTime()
        t.span("snapshot.list") { IncrementalKg.lastProcessedSourceId(graphTable) }
        listS += (System.nanoTime() - t2) / 1e9
      }
      wall
    }
    val baseTick = appendAndTick(0)
    ctx.phase("measure")
    lst.foreach(_.reset(ctx.spark))
    val ticks = t.inRun("ticks") {
      ctx.repeatTimed(a.seconds, minReps = 5, maxReps = maxDeltas)(i => appendAndTick(i + 1))
    }
    val nDeltas = ticks.size
    rec.attempted += nDeltas + 1
    rec.failed += failedTicks
    rec.value("base_tick_s", baseTick, "s", s"$baseDocs docs")
    val tickP50 = rec.timing("tick_s", ticks)
    rec.value("tick_p50_s", tickP50, "s")
    Stats.tail(ticks).foreach { case (p, v) => rec.value("tick_tail_s", v, "s", s"p$p of ${ticks.size}") }
    val dps = Stats.median(ticks.map(deltaDocs / _))
    rec.value("docs_per_s", dps, "docs/s", s"per tick of $deltaDocs docs")
    if (t.enabled) {
      layers ++= lst.get.summary(ctx.spark, nDeltas)
      layers("snapshot.append_s") = Stats.median(appendS.toSeq)
      layers("snapshot.list_s") = Stats.median(listS.toSeq)
      layers("snapshot.manifests") = graphTable.snapshots().size.toDouble
      layers("run.tick_docs") = deltaDocs
    }

    ctx.phase("check")
    // the ticked graph table against the planted gold and a one-shot build
    val union = s"${ctx.work}/union"
    ctx.spark.read.parquet(input).where(col("batch") <= nDeltas).drop("batch")
      .write.mode(SaveMode.Overwrite).parquet(union)
    val tripleCols = Seq("subj", "pred", "obj", "parserName", "source", "stringMatchConfidence",
      "disambiguationConfidence", "contentSha")
    def multiset(df: DataFrame): Map[Seq[Any], Int] =
      df.select(tripleCols.map(col): _*).collect().toSeq.map(_.toSeq).groupBy(identity).map { case (k, v) => k -> v.size }
    val ticked = graphTable.read()
    val unionGold = Inputs.standardCorpus(baseDocs + deltaDocs * nDeltas, a.seed)
    val s = scoreGate(ctx, keysOf(ticked), unionGold.gold)
    shaGate(ctx, ticked, unionGold.contentSha)
    val oneShotTbl = s"${ctx.work}/oneshot_tbl"
    val ck = s"${ctx.work}/checkpoint"
    val opts = Map("--corpus" -> union, "--checkpoint" -> ck, "--snapshot-table" -> oneShotTbl)
    val oneShotS = timeIt(t.span("run.oneshot") { Main.run(opts, ctx.spark) })
    val oneShot = new SnapshotTable(ctx.spark, oneShotTbl)
    val sid1 = oneShot.currentSnapshotId()
    val first = multiset(oneShot.read())
    rec.gate("ticks_equal_oneshot", multiset(ticked) == first,
      s"${ticked.count()} ticked triples vs ${first.values.sum} one-shot triples over ${unionGold.rows.size} docs")
    val stageHit = new Checkpointer(ctx.spark, ck).isCommitted("triples")
    val resumeS = timeIt(t.span("run.resume") { Main.run(opts, ctx.spark) })
    val sid2 = new SnapshotTable(ctx.spark, oneShotTbl).currentSnapshotId()
    val again = multiset(new SnapshotTable(ctx.spark, oneShotTbl).read())
    rec.gate("resume", stageHit && sid1 == sid2 && again == first,
      s"stage committed=$stageHit, snapshot $sid1 -> $sid2, triples identical=${again == first}")
    rec.value("oneshot_s", oneShotS, "s")
    rec.value("resume_s", resumeS, "s")
    if (t.enabled) {
      layers("run.resume_stage_hits") = if (stageHit) 1 else 0
      layers("snapshot.replay_noop") = if (sid1 == sid2) 1 else 0
      layers("graph.triples_per_doc") = ticked.count().toDouble / unionGold.rows.size
      setupLayers(ctx, bc.value, layers)
      hostLayers(ctx, layers)
      layers.emit(rec)
      t.write(rec.info("tracing"))
    }
    e2e(ctx, setupS, tickP50, s)
  }

  private def timeIt(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  // --------------------------------------------------------------- graph_canon

  def graphCanon(ctx: Ctx): Unit = {
    val a = ctx.args
    val rec = ctx.rec
    val g = Inputs.graph(sizeOr(ctx, 10000), nDelta = 500, nDeps = 240, a.seed)
    val (ePath, dPath, depPath) = (s"${ctx.work}/edges.tsv", s"${ctx.work}/delta.tsv", s"${ctx.work}/deps.tsv")
    Inputs.writeText(ePath, Inputs.edgesTsv(g.edges))
    Inputs.writeText(dPath, Inputs.edgesTsv(g.delta))
    Inputs.writeText(depPath, Inputs.edgesTsv(g.deps))
    val nEdges = g.edges.size + g.delta.size
    rec.info("input").put("edges", g.edges.size).put("delta_edges", g.delta.size).put("dep_edges", g.deps.size)
    ctx.phase("reference")
    // the single-threaded reference
    val refCc = Reference.components(g.edges)
    val refInc = Reference.components(g.edges ++ g.delta)
    val refOrder = Reference.buildOrder(g.deps)
    val refCore = Reference.kCore(g.deps, 2)
    val refKeys: Set[String] =
      refCc.map { case (n, c) => s"cc|$n|$c" }.toSet ++ refInc.map { case (n, c) => s"inc|$n|$c" } ++
        refOrder.map { case (n, s, z, l) => s"order|$n|$s|$z|$l" } ++ refCore.map { case (n, d) => s"core|$n|$d" }

    val (_, setupS) = timedSetup(ctx, a.cores) { spark =>
      ctx.tracer.span("sources.read") {
        Seq(ePath, dPath, depPath).map(Inputs.readEdges(spark, _).schema)
      }
    }
    val t = ctx.tracer
    var failedCalls = 0
    var lastKeys: Set[String] = Set.empty
    var mismatches = 0
    final case class Pass(cc: Double, inc: Double, traverse: Double)

    def pass(): Pass = {
      val Seq(edges, delta, deps) = Seq(ePath, dPath, depPath).map(Inputs.readEdges(ctx.spark, _))
      def call[T](name: String)(f: => T): Option[T] =
        try Some(t.span(name)(f)) catch { case scala.util.control.NonFatal(e) =>
          failedCalls += 1; println(s"graph call $name threw: $e"); None }
      val t0 = System.nanoTime()
      val cc = call("graph.cc") { ConnectedComponents.runUnionFind(edges).localCheckpoint(true) }
      val ccRows = cc.map(_.collect()).getOrElse(Array.empty[Row])
      val t1 = System.nanoTime()
      val inc = cc.flatMap(c => call("graph.cc_incremental") {
        ConnectedComponents.incremental(c, delta).localCheckpoint(true).collect() })
      val t2 = System.nanoTime()
      val order = call("graph.build_order") { Traversal.buildOrder(deps).collect() }
      val core = call("graph.kcore") { Traversal.kCore(deps, 2).collect() }
      val t3 = System.nanoTime()
      def l(r: Row, i: Int) = r.getAs[Number](i).longValue
      val keys = ccRows.map(r => s"cc|${r.getAs[String]("id")}|${r.getAs[String]("component")}").toSet ++
        inc.toSeq.flatten.map(r => s"inc|${r.getAs[String]("id")}|${r.getAs[String]("component")}") ++
        order.toSeq.flatten.map(r => s"order|${r.getAs[String]("node")}|${r.getAs[String]("scc_id")}|" +
          s"${l(r, r.fieldIndex("scc_size"))}|${l(r, r.fieldIndex("layer"))}") ++
        core.toSeq.flatten.map(r => s"core|${r.getAs[String]("node")}|${l(r, r.fieldIndex("deg"))}")
      if (keys != refKeys) mismatches += 1
      lastKeys = keys
      Pass((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9)
    }
    ctx.phase("warm-up")
    (1 to 2).foreach(_ => pass()) // warm JIT and codegen
    ctx.phase("measure")
    mismatches = 0
    val lst = ctx.stageListener
    lst.foreach(_.reset(ctx.spark))
    val passes = scala.collection.mutable.ArrayBuffer.empty[Pass]
    val walls = t.inRun("passes") { ctx.repeat(a.seconds, minReps = 2)(_ => passes += pass()) }
    ctx.phase("check")
    rec.attempted += 4L * walls.size
    rec.failed += failedCalls
    rec.gate("graph_reference", mismatches == 0,
      s"${walls.size - mismatches}/${walls.size} passes equal the single-threaded reference " +
        s"(${refCc.size} nodes, ${refCc.values.toSet.size} components, ${refOrder.size} ordered, ${refCore.size} in 2-core)")
    val s = Reference.score(lastKeys, refKeys)
    val ccEdgesPerS = Stats.median(passes.toSeq.map(p => nEdges / (p.cc + p.inc)))
    rec.value("cc_edges_per_s", ccEdgesPerS, "edges/s", s"${g.edges.size} + ${g.delta.size} edges")
    rec.timing("cc_s", passes.toSeq.map(_.cc))
    rec.timing("cc_incremental_s", passes.toSeq.map(_.inc))
    rec.value("traverse_s", rec.timing("traverse_samples_s", passes.toSeq.map(_.traverse)), "s")
    val p50 = rec.timing("pass_s", walls)
    e2e(ctx, setupS, p50, s)

    if (t.enabled) {
      val layers = new Layers(LayerMetrics ++ GraphLayerMetrics)
      layers ++= lst.get.summary(ctx.spark, walls.size)
      layers("graph.cc_s") = t.median("graph.cc")
      layers("graph.cc_incremental_s") = t.median("graph.cc_incremental")
      layers("graph.kcore_s") = t.median("graph.kcore")
      layers("graph.cc_components") = refCc.values.toSet.size
      layers("graph.kcore_members") = refCore.size
      // the public pieces of buildOrder, each timed on its own
      val deps = Inputs.readEdges(ctx.spark, depPath).select("src", "dst").distinct().localCheckpoint(true)
      val closure = t.span("graph.closure") { Traversal.transitiveClosure(deps).localCheckpoint(true) }
      layers("graph.closure_s") = t.median("graph.closure")
      layers("graph.closure_pairs") = closure.count().toDouble
      val scc = Traversal.sccIds(deps, closure).localCheckpoint(true)
      val cEdges = deps
        .join(scc.select(col("node").as("sn"), col("scc_id").as("sscc")), deps("src") === col("sn"))
        .join(scc.select(col("node").as("dn"), col("scc_id").as("dscc")), deps("dst") === col("dn"))
        .select(col("sscc").as("src"), col("dscc").as("dst")).filter(col("src") =!= col("dst"))
        .localCheckpoint(true)
      t.span("graph.condense") { Traversal.condensationLayers(cEdges).collect() }
      layers("graph.condense_s") = t.median("graph.condense")
      hostLayers(ctx, layers)
      layers.emit(rec)
      t.write(rec.info("tracing"))
    }
  }
}
