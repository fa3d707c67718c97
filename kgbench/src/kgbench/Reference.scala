package kgbench

import scala.collection.mutable

/** Single-threaded local computations the graph outputs are checked
  * against, written independently of the engine's operators, plus the
  * precision/recall scorer. */
object Reference {

  final case class Score(precision: Double, recall: Double, out: Int, gold: Int, tp: Int)

  def score[T](out: Iterable[T], gold: Set[T]): Score = {
    val o = out.toSet
    val tp = o.count(gold.contains)
    Score(if (o.isEmpty) 0.0 else tp.toDouble / o.size,
      if (gold.isEmpty) 1.0 else tp.toDouble / gold.size, o.size, gold.size, tp)
  }

  /** Connected components, each node labelled with its minimum member. */
  def components(edges: Seq[(String, String)]): Map[String, String] = {
    val parent = mutable.HashMap.empty[String, String]
    def find(x: String): String = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    for ((a, b) <- edges) {
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  private def adjacency(edges: Seq[(String, String)]): Map[String, Seq[String]] =
    edges.distinct.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2) }

  /** Reachable pairs over paths of length >= 1. */
  def closure(edges: Seq[(String, String)]): Set[(String, String)] = {
    val adj = adjacency(edges)
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    nodes.iterator.flatMap { a =>
      val seen = mutable.HashSet.empty[String]
      val stack = mutable.Stack(adj.getOrElse(a, Nil): _*)
      while (stack.nonEmpty) {
        val n = stack.pop()
        if (seen.add(n)) stack.pushAll(adj.getOrElse(n, Nil))
      }
      seen.iterator.map(b => (a, b))
    }.toSet
  }

  /** (node, scc id = min member, scc size, layer): layer is the longest
    * path from the node's SCC to a sink of the condensation. */
  def buildOrder(edges: Seq[(String, String)]): Set[(String, String, Long, Long)] = {
    val reach = closure(edges)
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val scc = nodes.map { a =>
      a -> (a +: nodes.filter(b => reach((a, b)) && reach((b, a)))).min
    }.toMap
    val size = scc.values.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val cAdj = adjacency(edges.map { case (a, b) => (scc(a), scc(b)) }.filter(e => e._1 != e._2))
    val layer = mutable.HashMap.empty[String, Long]
    def layerOf(c: String): Long = layer.getOrElseUpdate(c,
      cAdj.get(c).map(ds => 1 + ds.map(layerOf).max).getOrElse(0L))
    nodes.map(n => (n, scc(n), size(scc(n)), layerOf(scc(n)))).toSet
  }

  /** k-core of the undirected simple graph: (node, degree within core). */
  def kCore(edges: Seq[(String, String)], k: Int): Set[(String, Long)] = {
    var es = edges.filter(e => e._1 != e._2)
      .map { case (a, b) => if (a < b) (a, b) else (b, a) }.distinct
    var stable = false
    while (!stable) {
      val deg = es.flatMap(e => Seq(e._1, e._2)).groupBy(identity).map { case (n, v) => n -> v.size }
      val drop = deg.filter(_._2 < k).keySet
      stable = drop.isEmpty
      es = es.filterNot(e => drop(e._1) || drop(e._2))
    }
    es.flatMap(e => Seq(e._1, e._2)).groupBy(identity).map { case (n, v) => (n, v.size.toLong) }.toSet
  }
}
