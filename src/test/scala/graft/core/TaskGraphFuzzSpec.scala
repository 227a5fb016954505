package graft.core

import org.apache.spark.sql.SparkSession
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop
import org.scalacheck.Prop.forAll

/** Differential fuzz of TaskGraph materialization: random small programs
  * of map / reduce / groupby / slice / derive / branch-surgery ops run against
  * BOTH the relational engine (taskTable/edgeTable — dim joins, groupBys
  * and pruning planned by Catalyst) and a deliberately naive driver-side
  * interpreter that expands every node copy with nested loops straight
  * from the reference semantics (prepend dim order, axis-relative
  * reduce, groupby fan-in wiring, exclusive-ancestor pruning — reference
  * graph.py:109-112, 315-325, 426-441, 30-53). The two implementations
  * share no execution machinery, so agreement over hundreds of programs
  * pins the semantics far beyond the example-based specs.
  *
  * The generator only emits VALID programs (eligibility is checked
  * against the model state) — the error matrix stays example-based in
  * TaskGraphSpec. A fixed initial seed makes CI deterministic; bump the
  * seed to explore fresh program space.
  */
class TaskGraphFuzzSpec extends Properties("TaskGraphFuzz") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(120).withMaxDiscardRatio(10)
      .withInitialSeed(org.scalacheck.rng.Seed(20260813L))

  lazy val spark: SparkSession = SparkTestSession.get
  implicit def s: SparkSession = spark

  // ----------------------------------------------------------- naive model

  private sealed trait V
  private case object VNull extends V
  private final case class VInt(v: Long) extends V
  private final case class VArr(vs: Vector[Long]) extends V
  private final case class VStruct(vs: Vector[V]) extends V

  /** Spark's CAST(x AS STRING) rendering (null SQL value stays null). */
  private def render(v: V): String = v match {
    case VNull => null
    case VInt(x) => x.toString
    case VArr(xs) => xs.mkString("[", ", ", "]")
    case VStruct(xs) =>
      xs.map(x => Option(render(x)).getOrElse("null")).mkString("{", ", ", "}")
  }

  private final case class MGroup(dim: String, positions: Vector[Int],
      values: Map[String, Vector[Long]])
  private final case class MRed(pred: String, reduced: Vector[String],
      groupKey: Option[String], func: String)

  /** The model graph: plain collections, no Spark, no shared code with
    * the engine beyond the public op vocabulary.
    */
  private final case class Model(
      nodeList: Vector[String],
      edges: Vector[(String, String)],
      groups: Vector[MGroup],
      reduces: Map[String, MRed]) {

    def preds(n: String): Vector[String] = edges.filter(_._2 == n).map(_._1)
    def mapped(n: String): Boolean = groups.exists(_.values.contains(n))
    def groupOf(n: String): MGroup = groups.find(_.values.contains(n)).get

    def topo: Vector[String] = {
      val indeg = scala.collection.mutable.Map.empty[String, Int]
      nodeList.foreach(n => indeg(n) = preds(n).size)
      val out = Vector.newBuilder[String]
      var frontier = nodeList.filter(indeg(_) == 0)
      while (frontier.nonEmpty) {
        val next = Vector.newBuilder[String]
        frontier.foreach { n =>
          out += n
          edges.filter(_._1 == n).map(_._2).foreach { c =>
            indeg(c) -= 1; if (indeg(c) == 0) next += c
          }
        }
        frontier = next.result()
      }
      out.result()
    }

    def groupbyDims: Vector[String] =
      nodeList.flatMap(n => reduces.get(n).flatMap(_.groupKey)).distinct

    def indexNames: Vector[String] = (groups.map(_.dim) ++ groupbyDims).distinct

    /** Prepend rule: later map calls rank first; groupby dims last. */
    private def dimRank: Map[String, Int] =
      (groups.reverse.map(_.dim) ++ groupbyDims).zipWithIndex.toMap

    lazy val dims: Map[String, Vector[String]] = {
      val m = scala.collection.mutable.Map.empty[String, Vector[String]]
      topo.foreach { n =>
        if (mapped(n)) m(n) = Vector(groupOf(n).dim)
        else reduces.get(n) match {
          case Some(r) =>
            val kept = m.getOrElse(r.pred, Vector.empty)
              .filterNot(r.reduced.contains)
            val ds = r.groupKey.fold(kept)(kept :+ _)
            if (ds.nonEmpty) m(n) = ds
          case None =>
            val ds = preds(n).flatMap(p => m.getOrElse(p, Vector.empty)).distinct
            if (ds.nonEmpty) m(n) = ds.sortBy(dimRank.getOrElse(_, Int.MaxValue))
        }
      }
      m.toMap
    }
    def dimsOf(n: String): Vector[String] = dims.getOrElse(n, Vector.empty)

    /** Value type, for generator eligibility (reduce needs numerics). */
    lazy val typeOf: Map[String, Symbol] = {
      val m = scala.collection.mutable.Map.empty[String, Symbol]
      topo.foreach { n =>
        m(n) =
          if (mapped(n)) Symbol("int")
          else reduces.get(n) match {
            case Some(r) =>
              if (r.func == "collect") Symbol("arr") else Symbol("int")
            case None => preds(n) match {
              case Vector() => Symbol("null")
              case Vector(p) => m(p)
              case _ => Symbol("struct")
            }
          }
      }
      m.toMap
    }

    // ------------------------------------------------- nested-loop expand

    private val copiesMemo =
      scala.collection.mutable.Map.empty[String, Vector[(Map[String, String], V)]]
    private def lookup(n: String): Map[Map[String, String], V] =
      copies(n).toMap

    private def restrict(idx: Map[String, String], ds: Vector[String]): Map[String, String] =
      ds.map(d => d -> idx(d)).toMap

    private def domain(d: String): Vector[String] =
      groups.find(_.dim == d) match {
        case Some(g) => g.positions.map(_.toString)
        case None => // groupby dim: labels are the key node's values
          copies(d).map { case (_, v) => render(v) }.distinct
      }

    private def cross(ds: Vector[String]): Vector[Map[String, String]] =
      ds.foldLeft(Vector(Map.empty[String, String])) { (acc, d) =>
        acc.flatMap(m => domain(d).map(l => m + (d -> l)))
      }

    private def agg(func: String, vs: Vector[V]): V = {
      val nums = vs.collect { case VInt(x) => x }
      func match {
        case "sum" => if (nums.isEmpty) VNull else VInt(nums.sum)
        case "min" => if (nums.isEmpty) VNull else VInt(nums.min)
        case "max" => if (nums.isEmpty) VNull else VInt(nums.max)
        case "count" => VInt(nums.size.toLong)
        case "collect" => VArr(nums.sorted)
      }
    }

    def copies(n: String): Vector[(Map[String, String], V)] =
      copiesMemo.getOrElseUpdate(n, {
        if (mapped(n)) {
          val g = groupOf(n)
          g.positions.map(p =>
            Map(g.dim -> p.toString) -> (VInt(g.values(n)(p)): V))
        } else reduces.get(n) match {
          case Some(r) =>
            val rows = copies(r.pred).map { case (idx, v) =>
              val dst = restrict(idx, dimsOf(r.pred).filterNot(r.reduced.contains)) ++
                r.groupKey.map(k =>
                  k -> render(lookup(k)(restrict(idx, dimsOf(k)))))
              (dst, v)
            }
            if (dimsOf(n).isEmpty) Vector(Map.empty[String, String] ->
              agg(r.func, rows.map(_._2)))
            else rows.groupBy(_._1).toVector.map { case (dst, rs) =>
              dst -> agg(r.func, rs.map(_._2))
            }
          case None =>
            val ps = preds(n)
            if (ps.isEmpty) Vector(Map.empty[String, String] -> (VNull: V))
            else cross(dimsOf(n)).map { idx =>
              val v: V =
                if (ps.size == 1) lookup(ps.head)(restrict(idx, dimsOf(ps.head)))
                else VStruct(ps.map(p => lookup(p)(restrict(idx, dimsOf(p)))))
              idx -> v
            }
        }
      })

    def taskRows: Vector[(String, Map[String, String], String)] =
      topo.flatMap(n => copies(n).map { case (idx, v) => (n, idx, render(v)) })

    def edgeRows: Set[(String, Map[String, String], String, Map[String, String])] =
      edges.flatMap { case (p, c) =>
        reduces.get(c) match {
          case Some(r) =>
            copies(r.pred).map { case (idx, _) =>
              val dst = restrict(idx, dimsOf(r.pred).filterNot(r.reduced.contains)) ++
                r.groupKey.map(k =>
                  k -> render(lookup(k)(restrict(idx, dimsOf(k)))))
              (p, restrict(idx, dimsOf(p)), c, dst)
            }
          case None =>
            copies(c).map { case (idx, _) =>
              (p, restrict(idx, dimsOf(p)), c, idx)
            }
        }
      }.toSet

    // -------------------------------------------------------- graph surgery

    def ancestors(n: String): Set[String] = {
      val seen = scala.collection.mutable.Set.empty[String]
      def go(x: String): Unit =
        preds(x).foreach(p => if (seen.add(p)) go(p))
      go(n); seen.toSet
    }

    private def descendantsWithout(a: String, excluded: String): Set[String] = {
      val seen = scala.collection.mutable.Set.empty[String]
      def go(x: String): Unit =
        edges.filter(e => e._1 == x && e._2 != excluded).map(_._2)
          .foreach(c => if (seen.add(c)) go(c))
      go(a); seen.toSet
    }

    private def keepOnly(keep: Set[String]): Model = copy(
      nodeList = nodeList.filter(keep),
      edges = edges.filter(e => keep(e._1) && keep(e._2)),
      groups = groups.map(g => g.copy(values = g.values.filter(kv => keep(kv._1))))
        .filter(_.values.nonEmpty),
      reduces = reduces.filter { case (n, r) => keep(n) && keep(r.pred) })

    def getItem(n: String): Model = keepOnly(ancestors(n) + n)

    /** Exclusive-ancestor removal shared by delItem/setItem (reference
      * _remove_ancestors, graph.py:30-53).
      */
    private def dropExclusiveAncestors(key: String): Model = {
      val anc = ancestors(key)
      val toRemove = anc.filter(a => descendantsWithout(a, key).subsetOf(anc))
      keepOnly(nodeList.toSet -- toRemove)
    }

    def delItem(key: String): Model = {
      val m1 = dropExclusiveAncestors(key)
      m1.copy(edges = m1.edges.filterNot(_._2 == key),
        reduces = m1.reduces - key)
    }

    /** The nearest mapped, reduce or bare ancestors a plain node over
      * `ps` is computed from. */
    def inputsOf(ps: Vector[String]): Set[String] = ps.toSet.flatMap { (p: String) =>
      if (mapped(p) || reduces.contains(p) || preds(p).isEmpty) Set(p) else inputsOf(preds(p))
    }

    /** setItem of an UNMAPPED 2-chain (fresh -> key): the fuzz's splice
      * flavor — old definition and exclusive ancestors die, the fresh
      * bare source becomes the key's only pred.
      */
    def setChain(key: String, freshSrc: String): Model = {
      val m1 = delItem(key)
      m1.copy(nodeList = m1.nodeList :+ freshSrc,
        edges = m1.edges :+ (freshSrc -> key))
    }
  }

  // ------------------------------------------------------------- generator

  /** Build one random program, applying each op to BOTH the engine graph
    * and the model. Returns the op log (for failure messages) + both.
    */
  private def buildProgram(seed: Long): (String, TaskGraph, Model) = {
    buildProgramRnd(new scala.util.Random(seed))
  }

  private def buildProgramRnd(rnd: scala.util.Random): (String, TaskGraph, Model) = {
    val log = new StringBuilder
    val base: Vector[(String, String)] = rnd.nextInt(4) match {
      case 0 => Vector("n1" -> "n2", "n2" -> "n3")
      case 1 => Vector("n1" -> "n2", "n1" -> "n3", "n2" -> "n4", "n3" -> "n4")
      case 2 => Vector("n1" -> "n3", "n2" -> "n3")
      case _ => Vector("n1" -> "n2", "n1" -> "n3")
    }
    log ++= s"base:$base "
    var g = TaskGraph.fromEdges(base: _*)
    val baseNodes = base.flatMap(e => Vector(e._1, e._2)).distinct
    var m = Model(baseNodes, base, Vector.empty, Map.empty)
    var usedDims = Set.empty[String]
    var counter = 0
    def freshName(prefix: String): String = { counter += 1; s"$prefix$counter" }

    def opMap(): Boolean = {
      val srcs = m.nodeList.filter(n => m.preds(n).isEmpty && !m.mapped(n))
      val cands = if (rnd.nextInt(4) == 0) srcs :+ freshName("m.m") else srcs
      val dimName = s"dim_${m.indexNames.size}"
      if (cands.isEmpty || usedDims(dimName)) return false
      val picks = rnd.shuffle(cands).take(1 + rnd.nextInt(2))
      val len = 1 + rnd.nextInt(3)
      val vals = picks.map(n => n -> Vector.fill(len)(rnd.nextInt(6))).toMap
      log ++= s"map:$vals->$dimName "
      g = g.mapSeqs(vals.map { case (k, v) => k -> (v: Seq[Any]) })
      val newNodes = picks.filterNot(m.nodeList.contains)
      m = m.copy(nodeList = m.nodeList ++ newNodes,
        groups = m.groups :+ MGroup(dimName, (0 until len).toVector,
          vals.map { case (k, v) => k -> v.map(_.toLong) }))
      usedDims += dimName
      true
    }

    def opReduce(): Boolean = {
      val cands = m.nodeList.filter(n =>
        m.dimsOf(n).nonEmpty && m.typeOf(n) == Symbol("int"))
      if (cands.isEmpty) return false
      val key = cands(rnd.nextInt(cands.size))
      val ds = m.dimsOf(key)
      val func = Vector("sum", "min", "max", "count", "collect")(rnd.nextInt(5))
      val name = freshName("rr")
      val reduced = rnd.nextInt(3) match {
        case 0 =>
          log ++= s"reduce-all:$key->$name($func) "
          g = g.reduce(key = key, name = name, attrs = Map("func" -> func))
          ds
        case 1 =>
          val d = ds(rnd.nextInt(ds.size))
          log ++= s"reduce-index:$key/$d->$name($func) "
          g = g.reduce(key = key, index = d, name = name,
            attrs = Map("func" -> func))
          Vector(d)
        case _ =>
          val a = rnd.nextInt(ds.size)
          log ++= s"reduce-axis:$key/$a->$name($func) "
          g = g.reduce(key = key, axis = a, name = name,
            attrs = Map("func" -> func))
          Vector(ds(a))
      }
      m = m.copy(nodeList = m.nodeList :+ name,
        edges = m.edges :+ (key -> name),
        reduces = m.reduces + (name -> MRed(key, reduced, None, func)))
      true
    }

    def opGroupby(): Boolean = {
      val pairs = for {
        k <- m.nodeList if m.mapped(k) && m.dimsOf(k).nonEmpty
        t <- m.nodeList
        if t != k && m.dimsOf(t).contains(m.dimsOf(k).head) &&
          m.typeOf(t) == Symbol("int")
      } yield (k, t)
      if (pairs.isEmpty) return false
      val (k, t) = pairs(rnd.nextInt(pairs.size))
      val func = Vector("sum", "min", "collect")(rnd.nextInt(3))
      val name = freshName("rr")
      log ++= s"groupby:$k/$t->$name($func) "
      g = g.groupby(k).reduce(key = t, name = name, attrs = Map("func" -> func))
      m = m.copy(nodeList = m.nodeList :+ name,
        edges = m.edges ++ Vector(t -> name, k -> name),
        reduces = m.reduces +
          (name -> MRed(t, Vector(m.dimsOf(k).head), Some(k), func)))
      true
    }

    def opSlice(): Boolean = {
      val cands = m.groups.zipWithIndex.filter(_._1.positions.size > 1)
      if (cands.isEmpty) return false
      val (grp, gi) = cands(rnd.nextInt(cands.size))
      val n = grp.positions.size
      val lo = rnd.nextInt(n)
      val hi = lo + 1 + rnd.nextInt(n - lo)
      log ++= s"slice:${grp.dim}[$lo,$hi) "
      g = g.byPosition(grp.dim, lo, hi)
      m = m.copy(groups = m.groups.updated(gi,
        grp.copy(positions = grp.positions.slice(lo, hi))))
      true
    }

    def opGetItem(): Boolean = {
      val cands = m.nodeList.filter(n => m.ancestors(n).nonEmpty)
      if (cands.isEmpty) return false
      val n = cands(rnd.nextInt(cands.size))
      log ++= s"getItem:$n "
      g = g.getItem(n)
      m = m.getItem(n)
      true
    }

    def opDelItem(): Boolean = {
      val cands = m.nodeList.filter(n =>
        m.preds(n).nonEmpty && !m.mapped(n) && m.dimsOf(n).isEmpty)
      if (cands.isEmpty) return false
      val n = cands(rnd.nextInt(cands.size))
      log ++= s"delItem:$n "
      g = g.delItem(n)
      m = m.delItem(n)
      true
    }

    def opSetChain(): Boolean = {
      val cands = m.nodeList.filter(n =>
        !m.mapped(n) && m.dimsOf(n).isEmpty)
      if (cands.isEmpty) return false
      val n = cands(rnd.nextInt(cands.size))
      val src = freshName("ss")
      val sink = freshName("ss")
      log ++= s"setChain:$n<-($src->$sink) "
      g = g.setItem(n, TaskGraph.chain(src, sink))
      m = m.setChain(n, src)
      true
    }

    def opDerive(): Boolean = {
      // a plain node over 2-3 existing nodes: diamonds, crosses of groups,
      // frames of reduces and bare sources — but no input named like a
      // dim of the new node (a groupby key beside its own groupby dim),
      // which the engine rejects
      val picks = rnd.shuffle(m.nodeList).take(2 + rnd.nextInt(2))
      val dims = picks.flatMap(m.dimsOf).toSet
      if (picks.size < 2 || m.inputsOf(picks).exists(dims)) return false
      val name = freshName("dd")
      log ++= s"derive:${picks.mkString(",")}->$name "
      g = g.withNode(name, picks)
      m = m.copy(nodeList = m.nodeList :+ name, edges = m.edges ++ picks.map(_ -> name))
      true
    }

    def opResplice(): Boolean = {
      // identity splice: setItem(n, getItem(n)) must be a semantic no-op.
      // Derived nodes exercise the branch-replace path; MAPPED SOURCES
      // (getItem of a source is the single-node graph carrying its value
      // mapping) exercise setItem's value-merge valuesMatch -> no-op
      // branch — the only splice flavor legal on a mapped key without
      // inventing fresh labels.
      val cands = m.nodeList.filter(n =>
        m.ancestors(n).nonEmpty || (m.mapped(n) && m.preds(n).isEmpty))
      if (cands.isEmpty) return false
      val n = cands(rnd.nextInt(cands.size))
      log ++= s"resplice:$n "
      g = g.setItem(n, g.getItem(n))
      true // model unchanged by construction
    }

    val weighted: Vector[() => Boolean] = Vector(
      opMap _, opMap _, opMap _,
      opReduce _, opReduce _, opReduce _,
      opGroupby _, opGroupby _,
      opSlice _, opSlice _,
      opDerive _, opDerive _,
      opGetItem _, opDelItem _, opSetChain _, opResplice _)

    val steps = 3 + rnd.nextInt(4)
    var done = 0
    var attempts = 0
    while (done < steps && attempts < steps * 6) {
      if (weighted(rnd.nextInt(weighted.size))()) done += 1
      attempts += 1
    }
    (log.toString, g, m)
  }

  // ------------------------------------------------------------ comparison

  private def canonIdx(m: Map[String, String]): String =
    m.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(",")

  property("engine == naive nested-loop interpreter on taskTable + edgeTable") =
    forAll(Gen.chooseNum(0L, 100000000L)) { seed =>
      val (log, g, m) = buildProgram(seed)
      val gotTask = g.taskTable().collect().map { r =>
        (r.getString(0),
          canonIdx(r.getAs[Map[String, String]]("index")),
          String.valueOf(r.getString(2)))
      }.toVector.sorted
      val wantTask = m.taskRows.map { case (n, idx, v) =>
        (n, canonIdx(idx), String.valueOf(v))
      }.sorted
      val gotEdge = g.edgeTable().collect().map { r =>
        (r.getString(0), canonIdx(r.getAs[Map[String, String]]("src_index")),
          r.getString(2), canonIdx(r.getAs[Map[String, String]]("dst_index")))
      }.toSet
      val wantEdge = m.edgeRows.map { case (p, si, c, di) =>
        (p, canonIdx(si), c, canonIdx(di))
      }
      val taskOk = gotTask == wantTask
      val edgeOk = gotEdge == wantEdge
      if (!taskOk || !edgeOk) {
        println(s"=== FUZZ DIVERGENCE seed=$seed prog=$log")
        if (!taskOk) {
          println(s"  task engine-only: ${(gotTask.toSet -- wantTask.toSet).take(5)}")
          println(s"  task model-only:  ${(wantTask.toSet -- gotTask.toSet).take(5)}")
        }
        if (!edgeOk) {
          println(s"  edge engine-only: ${(gotEdge -- wantEdge).take(5)}")
          println(s"  edge model-only:  ${(wantEdge -- gotEdge).take(5)}")
        }
      }
      // classify by the ops exercised so the run report proves the
      // generator covers the whole vocabulary (a silently-trivial
      // generator would show up as one dominant class here)
      val kinds = Vector("map", "reduce-all", "reduce-index", "reduce-axis",
        "groupby", "slice", "derive", "getItem", "delItem", "setChain", "resplice")
        .filter(k => log.contains(k + ":")).mkString("+")
      Prop.collect(kinds)(Prop(taskOk && edgeOk) :| s"seed=$seed prog=$log")
    }

  // ---------------------------------------------------------- error matrix

  property("invalid ops raise on random program states where the reference " +
      "raises (graph.py:316-334, 127-135, node_values.py:61-90)") =
    forAll(Gen.chooseNum(0L, 100000000L)) { seed =>
      val rnd = new scala.util.Random(seed ^ 0x5eed5eedL)
      val (log, g, m) = buildProgramRnd(rnd)
      // one invalid op per run, drawn from the classes ELIGIBLE in this
      // program state (each mirrors a reference raise site); the engine
      // must reject every one of them eagerly — at graph-construction
      // time, before any Spark action, like the reference's plain-Python
      // checks
      val reducible = m.nodeList.filter(n => m.dimsOf(n).nonEmpty)
      val mappedSrcs = m.nodeList.filter(n => m.mapped(n) && m.preds(n).isEmpty)
      val nonSources = m.nodeList.filter(n => m.preds(n).nonEmpty)
      val unmapped = m.nodeList.filterNot(m.mapped)
      val classes: Vector[(String, () => Any)] = Vector(
        reducible.headOption.map { n => "index-and-axis" -> { () =>
          g.reduce(key = n, index = m.dimsOf(n).head, axis = 0, name = "zz1",
            attrs = Map("func" -> "sum"))
        } },
        reducible.headOption.map { n => "missing-index" -> { () =>
          g.reduce(key = n, index = "no_such_dim", name = "zz1",
            attrs = Map("func" -> "sum"))
        } },
        reducible.headOption.map { n => "axis-out-of-range" -> { () =>
          g.reduce(key = n, axis = m.dimsOf(n).size, name = "zz1",
            attrs = Map("func" -> "sum"))
        } },
        reducible.headOption.map { n => "duplicate-name" -> { () =>
          g.reduce(key = n, name = m.nodeList.head,
            attrs = Map("func" -> "sum"))
        } },
        Some("unknown-key" -> { () =>
          g.reduce(key = "no_such_node", name = "zz1",
            attrs = Map("func" -> "sum"))
        }),
        nonSources.headOption.map { n => "map-non-source" -> { () =>
          g.mapSeqs(Map(n -> (Seq[Any](1, 2))))
        } },
        mappedSrcs.headOption.map { n => "conflicting-remap" -> { () =>
          // a fresh map of an already-mapped node arrives under a NEW
          // auto-named dim with different values/length — the reference's
          // "has already been mapped" / conflicting-indices raise
          g.mapSeqs(Map(n -> (Seq[Any](9, 9, 9, 9, 9))))
        } },
        unmapped.headOption.map { n => "groupby-unmapped" -> { () =>
          g.groupby(n)
        } },
        mappedSrcs.headOption.map { n => "delete-mapped" -> { () =>
          g.delItem(n)
        } },
        Some("slice-unknown-dim" -> { () =>
          g.byPosition("no_such_dim", 0, 1)
        })
      ).flatten
      val (cls, op) = classes(rnd.nextInt(classes.size))
      val raised =
        try { op(); false }
        catch { case _: IllegalArgumentException => true } // GraftException <: IAE
      if (!raised)
        println(s"=== ERROR-MATRIX MISS seed=$seed class=$cls prog=$log")
      Prop.collect(cls)(Prop(raised) :| s"seed=$seed class=$cls prog=$log")
    }
}
