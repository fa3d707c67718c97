package kgbench

import graft.core.DocRow
import graft.datagen.CorpusGen
import graft.datagen.CorpusGen.Rng
import org.apache.spark.sql.{SaveMode, SparkSession}

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** Seeded input generators. Every generator is a pure function of its seed
  * and size; the workloads write what they return to parquet/TSV files
  * before any clock starts, and the engine only ever sees those files.
  * Gold is kept on the benchmark side. */
object Inputs {

  /** A planted (subj, pred, obj) triple: subj = docId#start-end, pred =
    * denotes:<class>, obj = the CURIE-stripped id. */
  final case class Key(subj: String, pred: String, obj: String)

  final case class Corpus(
      rows: IndexedSeq[DocRow],
      gold: Set[Key],
      contentSha: Map[String, String], // docId -> sha256(content), computed here
      quarantined: Int
  ) {
    def bytes: Long = rows.iterator.map(_.content.length.toLong).sum
  }

  def docId(r: DocRow): String = CorpusGen.sha256(s"${r.repo}|${r.path}|${r.commit}")

  // ---- kg_build / kg_incremental: the CorpusGen standard corpus ----

  def standardCorpus(n: Int, seed: Long): Corpus = {
    val docs = (0 until n).map(i => CorpusGen.generateOne(i, seed))
    Corpus(
      docs.map(_.row),
      docs.iterator.flatMap(_.goldTriples).map(g =>
        Key(s"${g.docId}#${g.start}-${g.end}", s"denotes:${g.entityClass}", g.idx)).toSet,
      docs.iterator.map(d => docId(d.row) -> CorpusGen.sha256(d.row.content)).toMap,
      docs.count(_.quarantined))
  }

  def writeCorpus(spark: SparkSession, rows: Seq[DocRow], path: String, files: Int): Unit = {
    import spark.implicits._
    rows.toDS().repartition(files).write.mode(SaveMode.Overwrite).parquet(path)
  }

  // ---- kg_large_vocab: a generated ontology and source-file-like docs ----

  val VocabParser = "vocab_onto"
  val VocabClass = "concept"
  def vocabId(k: Int): String = f"http://graft.fake/vocab/VOC_$k%07d"
  def strippedVocabId(k: Int): String = f"VOC_$k%07d"

  final case class Vocab(
      syns: IndexedSeq[IndexedSeq[String]], // per id: its own synonyms, first = label
      shared: Map[Int, String], // id -> synonym it shares with its pair partner
      symbols: Map[Int, String] // id -> case-sensitive symbol synonym
  ) {
    def size: Int = syns.size
    def tsv: String = {
      val sb = new StringBuilder("idx\tdefault_label\tsyn\tmapping_type\n")
      for (k <- syns.indices) {
        val label = syns(k).head
        def row(syn: String, mt: String): Unit =
          sb.append(vocabId(k)).append('\t').append(label).append('\t')
            .append(syn).append('\t').append(mt).append('\n')
        syns(k).zipWithIndex.foreach { case (s, j) => row(s, if (j == 0) "name" else "syn") }
        shared.get(k).foreach(row(_, "syn"))
        symbols.get(k).foreach(row(_, "symbol"))
      }
      sb.toString
    }
    /** Curations file: the synonyms that match case-sensitively. */
    def curationsTsv: String =
      symbols.values.toSeq.sorted.map(s => s"$s\ttrue").mkString("syn\tcase_sensitive\n", "\n", "\n")
  }

  private val consonants = "bdfgklmnprstvz"
  private val vowels = "aeiou"

  /** Consonant-vowel words: never equal to a filler token of [[codeLine]]
    * (those carry digits, underscores, punctuation or consonant clusters). */
  private def cvWord(r: Rng): String = {
    val sb = new StringBuilder
    (0 until 2 + r.nextInt(3)).foreach { _ =>
      sb.append(consonants(r.nextInt(consonants.length))).append(vowels(r.nextInt(vowels.length)))
    }
    sb.toString
  }

  def vocab(nIds: Int, seed: Long): Vocab = {
    val r = new Rng(seed * 1000003L + 17)
    val used = mutable.HashSet.empty[String]
    def fresh(): String = { var w = cvWord(r); while (!used.add(w)) w = cvWord(r); w }
    val syns = (0 until nIds).map { k =>
      (0 until (if (k % 3 == 0) 2 else 1)).map(_ => (0 until 1 + r.nextInt(3)).map(_ => fresh()).mkString(" "))
    }
    // 1 id in 20 shares a symbol-like synonym (one token with a digit)
    // with the next id: two id sets behind one term, which only document
    // context can resolve (a shared noun phrase would merge the ids)
    val shared = (0 until nIds - 1 by 20).flatMap { k =>
      val w = fresh() + (2 + r.nextInt(8)); Seq(k -> w, (k + 1) -> w)
    }.toMap
    // 1 id in 25 carries an upper-case symbol curated case-sensitively
    val symbols = (3 until nIds by 25).map { k =>
      val s = (0 until 3).map(_ => ('A' + r.nextInt(26)).toChar).mkString + (2 + r.nextInt(8))
      k -> (if (used.add(s.toLowerCase)) s else s + "X")
    }.toMap
    Vocab(syns, shared, symbols)
  }

  /** Zipf(s) sampler over ranks 0..n-1 mapped to a seeded permutation of
    * ids, so the hot ids differ by seed. */
  final class Zipf(n: Int, s: Double, r: Rng) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      var acc = 0.0
      w.map { x => acc += x; acc }.map(_ / acc)
    }
    private val perm = {
      val p = Array.range(0, n)
      for (i <- n - 1 to 1 by -1) { val j = r.nextInt(i + 1); val t = p(i); p(i) = p(j); p(j) = t }
      p
    }
    def next(): Int = {
      val u = (r.nextLong() >>> 11).toDouble / (1L << 53)
      var i = java.util.Arrays.binarySearch(cdf, u)
      if (i < 0) i = -i - 1
      perm(math.min(i, n - 1))
    }
  }

  private val fillerTokens = Vector("val", "def", "x1", "tmp_2", "buf3", "idx_0", "=", "+", "{", "}",
    ";", "//", "0", "42", "f(3)", "ret_", "arr[i]", "->", "n2", "sz_t", "&&", "if", "for")

  private def codeLine(r: Rng, sb: StringBuilder): Unit = {
    (0 until 4 + r.nextInt(8)).foreach { j =>
      if (j > 0) sb.append(' ')
      sb.append(fillerTokens(r.nextInt(fillerTokens.length)))
    }
    sb.append('\n')
  }

  /** Source-file-like docs of `kb` KB on average; comment lines mention
    * vocabulary terms drawn with a Zipf skew. Mentions of a shared synonym
    * follow a mention of the same id's own synonym (resolvable context);
    * a case-sensitive symbol is planted as curated, sometimes followed by
    * a lower-case decoy that must not match. */
  def vocabCorpus(v: Vocab, nDocs: Int, kb: Int, seed: Long): Corpus = {
    val r = new Rng(seed * 7919L + 3)
    val zipf = new Zipf(v.size, 1.05, r)
    val gold = mutable.HashSet.empty[Key]
    val shas = mutable.HashMap.empty[String, String]
    val rows = (0 until nDocs).map { i =>
      val repo = s"org/vocab-${i % 23}"
      val path = s"src/mod${i % 11}/Unit_$i.scala"
      val row0 = DocRow(repo, path, CorpusGen.sha256(s"$repo|$path").substring(0, 40), "scala", "")
      val id = docId(row0)
      val sb = new StringBuilder
      def plant(syn: String, k: Option[Int]): Unit = {
        val s = sb.length
        sb.append(syn)
        k.foreach(k => gold += Key(s"$id#$s-${sb.length}", s"denotes:$VocabClass", strippedVocabId(k)))
      }
      val target = kb * 1024 / 2 + r.nextInt(kb * 1024)
      while (sb.length < target) {
        if (r.nextInt(3) == 0) {
          sb.append("// ")
          val k = zipf.next()
          if (v.shared.contains(k) && r.nextInt(2) == 0) {
            plant(v.syns(k).head, Some(k)); sb.append(" is ")
            plant(v.shared(k), Some(k))
          } else if (v.symbols.contains(k) && r.nextInt(2) == 0) {
            plant(v.symbols(k), Some(k))
            if (r.nextInt(2) == 0) { sb.append(" not "); plant(v.symbols(k).toLowerCase, None) }
          } else plant(v.syns(k)(r.nextInt(v.syns(k).size)), Some(k))
          sb.append(" here\n")
        } else codeLine(r, sb)
      }
      shas(id) = CorpusGen.sha256(sb.toString)
      row0.copy(content = sb.toString)
    }
    Corpus(rows, gold.toSet, shas.toMap, 0)
  }

  def writeText(path: String, text: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), text.getBytes(StandardCharsets.UTF_8))
  }

  // ---- graph_canon ----

  final case class Graph(
      edges: IndexedSeq[(String, String)], // xref edges: power law + chains
      delta: IndexedSeq[(String, String)], // a later edge batch
      deps: IndexedSeq[(String, String)] // dependency digraph (src depends on dst)
  )

  private def node(i: Int) = f"n$i%07d"

  def graph(nEdges: Int, nDelta: Int, nDeps: Int, seed: Long): Graph = {
    val r = new Rng(seed * 104729L + 11)
    val nNodes = nEdges / 2
    // preferential endpoints: low ids are hubs (power-law degrees), so one
    // giant component plus a tail of small ones
    val hub = new Zipf(nNodes, 0.9, r)
    def uniform() = r.nextInt(nNodes)
    val random = (0 until nEdges * 9 / 10).map { _ =>
      val a = hub.next(); val b = if (r.nextInt(2) == 0) hub.next() else uniform()
      (node(a), node(b))
    }
    // long chains over fresh ids, half of them hanging off the giant
    // component: many contraction rounds for the CC operators
    val chainLen = 10
    val nChains = (nEdges / 10) / chainLen
    val chains = (0 until nChains).flatMap { c =>
      val base = nNodes + c * (chainLen + 1)
      val links = (0 until chainLen).map(j => (node(base + j), node(base + j + 1)))
      if (c % 2 == 0) links :+ ((node(base), node(hub.next()))) else links
    }
    // the delta touches old nodes, new nodes, and merges components
    val hi = nNodes + nChains * (chainLen + 1)
    val delta = (0 until nDelta).map { j =>
      val a = if (j % 3 == 0) hi + r.nextInt(nDelta) else r.nextInt(hi)
      (node(a), node(r.nextInt(hi)))
    }
    // dependency digraph: `depth` layers, each node depending on one to
    // three nodes of the next two layers (a DAG of bounded depth), plus
    // two-node cycles inside a layer
    val depth = 2
    val width = nDeps / depth
    def dep(i: Int) = f"m$i%05d"
    val deps = (0 until width * depth).flatMap { i =>
      val layer = i / width
      val fwd = if (layer == depth - 1) Nil else (0 until 1 + r.nextInt(3)).map { _ =>
        val to = math.min(depth - 1, layer + 1 + r.nextInt(2))
        (dep(i), dep(to * width + r.nextInt(width)))
      }
      val cycle = if (i % 17 == 5 && (i + 1) % width != 0) Seq((dep(i), dep(i + 1)), (dep(i + 1), dep(i))) else Nil
      fwd ++ cycle
    }.distinct
    Graph(random ++ chains, delta, deps)
  }

  def edgesTsv(edges: Seq[(String, String)]): String =
    edges.iterator.map { case (a, b) => s"$a\t$b" }.mkString("src\tdst\n", "\n", "\n")

  def readEdges(spark: SparkSession, path: String): org.apache.spark.sql.DataFrame =
    spark.read.option("header", "true").option("sep", "\t").schema("src STRING, dst STRING").csv(path)
}
