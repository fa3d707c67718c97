package kgbench

import graft.datagen.CorpusGen
import graft.graph.XrefManager
import graft.run.{Artifacts, KgPipeline, Main, Stages}
import org.apache.spark.sql.DataFrame

/** The benchmark's own test (run by kgbench/test.py):
  *  - generator determinism: the same seed gives the same bytes, another
  *    seed different ones;
  *  - the traced fold replica yields DocMentions that fingerprint equal to
  *    `KgPipeline.annotate` on the same corpus;
  *  - the composed kg_build writes the same triple multiset (and the same
  *    quarantine rows) as `graft.run.Main.run` given the same inputs.
  *
  *   kgbench.SelfTest <work dir> */
object SelfTest {

  private var failures = 0

  private def check(name: String, ok: Boolean, detail: String = ""): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $name${if (detail.nonEmpty) s" ($detail)" else ""}")
    if (!ok) failures += 1
  }

  private def bytesOf(c: Inputs.Corpus): String =
    CorpusGen.sha256(c.rows.map(r => s"${r.repo}\t${r.path}\t${r.commit}\t${r.lang}\t${r.content}").mkString("\n"))

  def main(argv: Array[String]): Unit = {
    val work = argv(0)
    val args = Bench.Args("selftest", 1, 1, trace = false, cores = 2, size = 0, work,
      s"$work/record.json", s"$work/result.json")
    val ctx = new Ctx(args, new Record(args))
    try run(ctx) finally ctx.stopSession()
    println(if (failures == 0) "selftest passed" else s"selftest FAILED: $failures check(s)")
    sys.exit(if (failures == 0) 0 else 1)
  }

  private def run(ctx: Ctx): Unit = {
    val work = ctx.work
    // ---- generator determinism
    check("standard corpus is seed-deterministic",
      bytesOf(Inputs.standardCorpus(300, 5)) == bytesOf(Inputs.standardCorpus(300, 5)) &&
        bytesOf(Inputs.standardCorpus(300, 5)) != bytesOf(Inputs.standardCorpus(300, 6)))
    val v5 = Inputs.vocab(2000, 5)
    check("vocabulary is seed-deterministic",
      v5.tsv == Inputs.vocab(2000, 5).tsv && v5.curationsTsv == Inputs.vocab(2000, 5).curationsTsv &&
        v5.tsv != Inputs.vocab(2000, 6).tsv)
    check("vocabulary corpus is seed-deterministic",
      bytesOf(Inputs.vocabCorpus(v5, 50, 2, 5)) == bytesOf(Inputs.vocabCorpus(v5, 50, 2, 5)) &&
        bytesOf(Inputs.vocabCorpus(v5, 50, 2, 5)) != bytesOf(Inputs.vocabCorpus(v5, 50, 2, 6)))
    def graphBytes(s: Long) = {
      val g = Inputs.graph(2000, 100, 60, s)
      Seq(g.edges, g.delta, g.deps).map(Inputs.edgesTsv).mkString("|")
    }
    check("graph inputs are seed-deterministic", graphBytes(5) == graphBytes(5) && graphBytes(5) != graphBytes(6))

    // ---- replica fidelity, on both corpus shapes
    val spark = ctx.newSession(2)
    val std = Inputs.standardCorpus(1200, 7)
    val stdPath = s"$work/std"
    Inputs.writeCorpus(spark, std.rows, stdPath, files = 3)
    val fixture = KgPipeline.broadcastArtifacts(spark, Artifacts.build(CorpusGen.gazetteer,
      Some(XrefManager.fromEdges(CorpusGen.xrefEdges, CorpusGen.xrefSourceToParser))))
    def docsOf(path: String) = Stages.ingest(spark.read.parquet(path))(spark)
    val want = Replica.fingerprint(KgPipeline.annotate(docsOf(stdPath), fixture))
    val counters = new FoldCounters(spark)
    val got = Replica.fingerprint(Replica.annotate(docsOf(stdPath), fixture, counters))
    check("replica == annotate on the standard corpus", want == got, s"$want vs $got")
    check("replica counted every healthy doc", counters.docs.value == want._1,
      s"${counters.docs.value} counted, ${want._1} annotated")

    val voc = Inputs.vocab(3000, 7)
    val vocCorpus = Inputs.vocabCorpus(voc, 150, 2, 7)
    val vocPath = s"$work/voc"
    Inputs.writeCorpus(spark, vocCorpus.rows, vocPath, files = 2)
    Inputs.writeText(s"$work/vocab.tsv", voc.tsv)
    val rows = graft.sources.OntologySources.readTabular(spark, s"$work/vocab.tsv",
      Inputs.VocabParser, Inputs.VocabClass).collect().toSeq
    val gaz = graft.gazetteer.GazetteerBuilder.buildLocal(rows, rows.map(r => (r.syn, r.parserName)).distinct.map {
      case (syn, parser) => graft.gazetteer.Curation(parser, syn, graft.core.MentionConfidence.HIGHLY_LIKELY,
        graft.gazetteer.Behaviour.ADD_FOR_NER_AND_LINKING, caseSensitive = voc.symbols.values.toSet(syn), None, None)
    })
    val vbc = KgPipeline.broadcastArtifacts(spark, Artifacts.build(gaz))
    val wantV = Replica.fingerprint(KgPipeline.annotate(docsOf(vocPath), vbc))
    val gotV = Replica.fingerprint(Replica.annotate(docsOf(vocPath), vbc, new FoldCounters(spark)))
    check("replica == annotate on the vocabulary corpus", wantV == gotV, s"$wantV vs $gotV")

    // ---- the composed kg_build against graft.run.Main on the same inputs
    Workloads.kgBuildOnce(ctx, stdPath, s"$work/bench_out", s"$work/bench_q", fixture, None)
    Main.run(Map("--corpus" -> stdPath, "--out" -> s"$work/main_out", "--quarantine" -> s"$work/main_q"), spark)
    def multiset(df: DataFrame) = df.collect().toSeq.map(_.toSeq.map(String.valueOf).sorted.mkString("|"))
      .groupBy(identity).map { case (k, v) => k -> v.size }
    val cols = Seq("subj", "pred", "obj", "parserName", "source", "stringMatchConfidence",
      "disambiguationConfidence", "contentSha", "pred_part")
    val bench = multiset(spark.read.parquet(s"$work/bench_out").select(cols.map(org.apache.spark.sql.functions.col): _*))
    val main = multiset(spark.read.parquet(s"$work/main_out").select(cols.map(org.apache.spark.sql.functions.col): _*))
    check("composed kg_build == Main.run triples", bench == main && bench.nonEmpty,
      s"${bench.values.sum} vs ${main.values.sum} rows")
    check("composed kg_build == Main.run quarantine",
      multiset(spark.read.parquet(s"$work/bench_q")) == multiset(spark.read.parquet(s"$work/main_q")))
  }
}
