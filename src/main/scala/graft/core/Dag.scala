package graft.core

/** Immutable directed acyclic graph of named nodes with string attrs.
  *
  * Mirrors the graph-structure surface of the reference's `Graph` wrapper
  * over networkx (reference: src/cyclebane/graph.py:210-224) but is a plain
  * persistent Scala structure: plan surgery (branch get/set/del, reference
  * graph.py:443-537) is cheap driver-side metadata work and never touches
  * data.
  *
  * Node insertion order is preserved (`nodeList`) because the reference's
  * dim ordering and materialization order are insertion-ordered
  * (graph.py:401-403).
  */
final case class Dag(
    nodeList: Vector[String],
    attrs: Map[String, Map[String, String]],
    edgeList: Vector[(String, String)]
) {
  require(nodeList.distinct.size == nodeList.size, "duplicate node names")

  lazy val nodes: Set[String] = nodeList.toSet
  lazy val edges: Set[(String, String)] = edgeList.toSet

  lazy val parentsOf: Map[String, Vector[String]] =
    edgeList.groupBy(_._2).map { case (c, es) => c -> es.map(_._1) }
      .withDefaultValue(Vector.empty)

  lazy val childrenOf: Map[String, Vector[String]] =
    edgeList.groupBy(_._1).map { case (p, es) => p -> es.map(_._2) }
      .withDefaultValue(Vector.empty)

  def contains(n: String): Boolean = nodes.contains(n)

  def predecessors(n: String): Vector[String] = parentsOf(n)

  /** Sink nodes: no outgoing edges. */
  def sinkNodes: Vector[String] = nodeList.filter(childrenOf(_).isEmpty)

  /** Unique sink or error (reference graph.py:16-20 `_get_unique_sink`). */
  def uniqueSink: String = sinkNodes match {
    case Vector(s) => s
    case ss => throw new IllegalArgumentException(
      s"Graph must have exactly one sink node, got ${ss.mkString(", ")}")
  }

  /** All strict ancestors of `n`. */
  def ancestors(n: String): Set[String] = {
    val seen = scala.collection.mutable.Set.empty[String]
    def go(x: String): Unit = parentsOf(x).foreach { p =>
      if (seen.add(p)) go(p)
    }
    go(n)
    seen.toSet
  }

  /** All strict descendants of `n`. */
  def descendants(n: String): Set[String] = {
    val seen = scala.collection.mutable.Set.empty[String]
    def go(x: String): Unit = childrenOf(x).foreach { c =>
      if (seen.add(c)) go(c)
    }
    go(n)
    seen.toSet
  }

  def addNode(n: String, a: Map[String, String] = Map.empty): Dag =
    if (contains(n)) copy(attrs = attrs + (n -> (attrs.getOrElse(n, Map.empty) ++ a)))
    else Dag(nodeList :+ n, attrs + (n -> a), edgeList)

  def addEdge(from: String, to: String): Dag = {
    require(contains(from) && contains(to), s"unknown node in edge $from->$to")
    if (edges.contains((from, to))) this
    else {
      val d = copy(edgeList = edgeList :+ ((from, to)))
      require(!d.hasCycle, s"edge $from->$to would create a cycle")
      d
    }
  }

  def removeNodes(ns: Set[String]): Dag = Dag(
    nodeList.filterNot(ns),
    attrs -- ns,
    edgeList.filterNot { case (a, b) => ns(a) || ns(b) })

  /** Induced subgraph on `keep` (preserves insertion/edge order). */
  def subgraph(keep: Set[String]): Dag = removeNodes(nodes -- keep)

  /** Graph union; `other`'s attrs win on conflict (like nx.compose). */
  def compose(other: Dag): Dag = {
    val mergedNodes = nodeList ++ other.nodeList.filterNot(nodes)
    val mergedAttrs = attrs ++ other.attrs.map { case (k, v) =>
      k -> (attrs.getOrElse(k, Map.empty) ++ v)
    }
    val mergedEdges = edgeList ++ other.edgeList.filterNot(edges)
    val d = Dag(mergedNodes, mergedAttrs, mergedEdges)
    // two valid DAGs can union into a cycle (opposing edges); without this
    // check the cyclic result has an EMPTY topologicalOrder and downstream
    // materialization silently produces zero frames instead of erroring
    require(!d.hasCycle, "compose would create a cycle")
    d
  }

  def renameNode(from: String, to: String): Dag = {
    require(contains(from), s"unknown node $from")
    require(!contains(to), s"node $to already exists")
    Dag(
      nodeList.map(n => if (n == from) to else n),
      (attrs - from) + (to -> attrs.getOrElse(from, Map.empty)),
      edgeList.map { case (a, b) =>
        (if (a == from) to else a, if (b == from) to else b)
      })
  }

  def hasCycle: Boolean = topologicalOrder.isEmpty && nodeList.nonEmpty

  /** Kahn topological order (insertion-order stable); empty if cyclic. */
  lazy val topologicalOrder: Vector[String] = {
    val indeg = scala.collection.mutable.Map.empty[String, Int]
    nodeList.foreach(n => indeg(n) = parentsOf(n).size)
    val out = Vector.newBuilder[String]
    var frontier = nodeList.filter(indeg(_) == 0)
    var count = 0
    while (frontier.nonEmpty) {
      val next = Vector.newBuilder[String]
      frontier.foreach { n =>
        out += n; count += 1
        childrenOf(n).foreach { c =>
          indeg(c) -= 1
          if (indeg(c) == 0) next += c
        }
      }
      frontier = next.result()
    }
    if (count == nodeList.size) out.result() else Vector.empty
  }
}

object Dag {
  val empty: Dag = Dag(Vector.empty, Map.empty, Vector.empty)

  /** Build from edge pairs; nodes appear in first-mention order. */
  def fromEdges(edges: (String, String)*): Dag = {
    val order = Vector.newBuilder[String]
    val seen = scala.collection.mutable.Set.empty[String]
    edges.foreach { case (a, b) =>
      if (seen.add(a)) order += a
      if (seen.add(b)) order += b
    }
    val d = Dag(order.result(), Map.empty, edges.toVector.distinct)
    require(!d.hasCycle, "edges form a cycle")
    d
  }

  /** Linear chain a -> b -> c ... */
  def chain(names: String*): Dag = {
    require(names.nonEmpty, "chain needs at least one node")
    if (names.size == 1) Dag(Vector(names.head), Map.empty, Vector.empty)
    else fromEdges(names.zip(names.tail): _*)
  }
}
