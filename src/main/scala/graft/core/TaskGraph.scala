package graft.core

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, OneRowRelation, Range => RangeRelation}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import TaskGraph.colOf

/** Error type for graph-construction-time validation failures.
  *
  * Matches the reference's eager, driver-side error reporting: bad maps,
  * reduces, or splices fail at the call site, never at execution
  * (reference: src/cyclebane/graph.py:316-334, node_values.py:54-93).
  */
final class GraftException(msg: String) extends IllegalArgumentException(msg)

/** One `map` call's parameter table: a set of dims backed by one DataFrame.
  *
  * The Spark translation of the reference's `ValueArray`/`NodeValues` pair
  * (reference: src/cyclebane/value_array.py:16-105, node_values.py:17-129).
  * An N-D array-like is held in long/tidy form: one label column per dim
  * plus one value column per jointly-mapped node. Columns jointly mapped in
  * one call share the dims (zip semantics, node_values.py:95-110); separate
  * `map` calls create independent `DimGroup`s whose dims cross-multiply at
  * shared descendants.
  *
  * A dim absent from `labelCols` is *positional* (range labels 0..n-1, like
  * the reference's `SequenceAdapter`, value_array_adapters.py:23-68): its
  * labels are materialized lazily via `zipWithIndex` only when actually
  * observed, because at 100 TB a row-position column is an extra full pass
  * we refuse to pay unless the query semantics demand it.
  */
final case class DimGroup(
    dims: Vector[String],
    df: DataFrame,
    valueCols: Map[String, String],
    labelCols: Map[String, String]
) {
  require(dims.nonEmpty, "DimGroup needs at least one dim")
  require(dims.count(d => !labelCols.contains(d)) <= (if (dims.size == 1) 1 else 0),
    "positional (label-less) dims are only supported for 1-D groups; " +
      "N-D groups must label every dim (tidy form)")

  def positionalDim: Option[String] = dims.find(d => !labelCols.contains(d))

  /** Every leaf of df's plan is in-memory rows. Only such a table is
    * collected whole, by [[withPositions]] and [[sliceByPosition]]: their
    * collects have no row bound, so a range does not qualify here, while
    * the bounded construction-time label checks admit it. */
  private lazy val inMemoryRows: Boolean =
    df.queryExecution.analyzed.collectLeaves().forall(_.isInstanceOf[LocalRelation])

  /** df extended with the positional-label column for the positional dim.
    * An in-memory (LocalRelation) param table gets positions driver-side
    * and STAYS a LocalRelation — eligible for eager label validation and
    * broadcast planning. Anything else uses RDD zipWithIndex:
    * distributed, deterministic for a deterministic source, no
    * single-partition window.
    */
  lazy val withPositions: DataFrame = positionalDim match {
    case None => df
    case Some(d) =>
      val spark = df.sparkSession
      val schema = df.schema.add(TaskGraph.posCol(d), LongType, nullable = false)
      if (inMemoryRows) {
        val rows = df.collect().zipWithIndex.map {
          case (r, i) => Row.fromSeq(r.toSeq :+ i.toLong)
        }
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      } else {
        val rdd = df.rdd.zipWithIndex().map { case (r, i) => Row.fromSeq(r.toSeq :+ i) }
        spark.createDataFrame(rdd, schema)
      }
  }

  /** The group's frame: value columns renamed to node names, label columns
    * renamed to dim names. Positional labels only materialized on request.
    */
  def frame(needPositional: Boolean): DataFrame = {
    val base = if (needPositional && positionalDim.isDefined) withPositions else df
    val dimCols = dims.flatMap { d =>
      if (labelCols.contains(d)) Some(colOf(labelCols(d)).as(d))
      else if (needPositional) Some(colOf(TaskGraph.posCol(d)).as(d))
      else None
    }
    val nodeCols = valueCols.toSeq.sortBy(_._1).map { case (n, c) => colOf(c).as(n) }
    base.select(dimCols ++ nodeCols: _*)
  }

  /** Labels of one dim, in array order, duplicates kept (for label checks). */
  def labelFrame(dim: String): DataFrame = labelCols.get(dim) match {
    case Some(lc) => df.select(colOf(lc).as(dim))
    case None => withPositions.select(colOf(TaskGraph.posCol(dim)).as(dim))
  }

  /** Positional slice [lo, hi) of `dim` (reference graph.py:154-178).
    * Labels follow the slice — the original labels survive
    * (graph_test.py:970-1038).
    *
    * For a labeled IN-MEMORY dim, position is the label's order of first
    * appearance in row order — exact reference parity (array/iloc
    * semantics: a pandas index [30, 10, 20] has 30 at position 0), with
    * duplicate labels sharing their first position and rows of other
    * dims in an N-D tidy frame never counted as positions. The rows are
    * filtered on the driver into a new in-memory table with the same
    * schema (column metadata such as units included), so the slice plans
    * no join. For a labeled FILE-BACKED dim, physical row order across
    * partitions carries no meaning, so position falls back to rank among
    * the distinct labels in ascending order — the stable, scale-safe
    * semantics; the ranking runs over the dim-table-sized distinct label
    * set via distributed sort + zipWithIndex (never a single-partition
    * window over fact-scale data) and the kept labels semi-join back
    * broadcast. The positional dim uses true array order via zipWithIndex.
    */
  def sliceByPosition(dim: String, lo: Int, hi: Int): DimGroup = {
    require(dims.contains(dim), s"dim '$dim' not in group")
    labelCols.get(dim) match {
      case None =>
        val pc = TaskGraph.posCol(dim)
        val sliced = withPositions.filter(colOf(pc) >= lo && colOf(pc) < hi)
        // The dim keeps its original positional labels; they become
        // explicit (the dim is now label-backed by the old positions).
        copy(df = sliced, labelCols = labelCols + (dim -> pc))
      case Some(lc) if inMemoryRows =>
        // in-memory: the table is metadata-scale by definition of
        // LocalRelation; a null label is a real label and keeps its rows
        val rows = df.collect()
        val at = df.schema.fieldIndex(lc)
        val keys = rows.map(r => TaskGraph.labelKey(r.get(at)))
        val kept = keys.distinct.slice(lo, hi).toSet
        val sliced = rows.zip(keys).collect { case (r, k) if kept(k) => r }
        copy(df = df.sparkSession.createDataFrame(java.util.Arrays.asList(sliced: _*), df.schema))
      case Some(lc) =>
        val spark = df.sparkSession
        val sorted = df.select(colOf(lc).as("__lbl")).distinct().orderBy("__lbl")
        val schema = sorted.schema.add("__rank", LongType, nullable = false)
        val ranked = spark.createDataFrame(
          sorted.rdd.zipWithIndex().map { case (r, i) =>
            Row.fromSeq(r.toSeq :+ i)
          }, schema)
        val kept = ranked
          .filter(col("__rank") >= lo && col("__rank") < hi)
          .drop("__rank")
        copy(df = df.join(broadcast(kept), colOf(lc) <=> col("__lbl"), "left_semi"))
    }
  }

  /** A label value as a literal column. A `(value, unit)` pair becomes a
    * struct literal matching [[TaskGraph.unitCoord]]'s encoding, so label
    * equality on a unit-carrying dim includes the unit (reference scipp
    * adapter: sel reconstructs `scalar(value, unit=unit)`,
    * value_array_adapters.py:212-225, 241-250).
    */
  private def labelLit(label: Any): Column = label match {
    case (v, u: String) => struct(lit(v).as("value"), lit(u).as("unit"))
    case other => lit(other)
  }

  /** Label-based point selection on `dim` (reference value_array.py:56-58). */
  def selLabel(dim: String, label: Any): DimGroup = {
    require(dims.contains(dim), s"dim '$dim' not in group")
    labelCols.get(dim) match {
      case Some(lc) => copy(df = df.filter(colOf(lc) === labelLit(label)))
      case None =>
        val pc = TaskGraph.posCol(dim)
        copy(df = withPositions.filter(colOf(pc) === lit(label)),
          labelCols = labelCols + (dim -> pc))
    }
  }

  /** Label-range slice [lo, hi) on `dim` (reference value_array.py:60-71).
    * For unit-carrying bounds the unit participates as EQUALITY, not as
    * part of the lexicographic range — a struct range comparison alone
    * would order by value first and silently treat 2 s as inside
    * [1 ms, 3 ms). Both bounds must carry the same unit.
    */
  def sliceByLabel(dim: String, lo: Any, hi: Any): DimGroup = {
    require(dims.contains(dim), s"dim '$dim' not in group")
    val lc = labelCols.getOrElse(dim,
      throw new GraftException(s"dim '$dim' is positional; use sliceByPosition"))
    (lo, hi) match {
      case ((lv, lu: String), (hv, hu: String)) =>
        if (lu != hu)
          throw new GraftException(
            s"loc bounds must share one unit, got '$lu' and '$hu'")
        copy(df = df.filter(colOf(lc).getField("unit") === lit(lu) &&
          colOf(lc).getField("value") >= lit(lv) &&
          colOf(lc).getField("value") < lit(hv)))
      case _ =>
        copy(df = df.filter(colOf(lc) >= labelLit(lo) && colOf(lc) < labelLit(hi)))
    }
  }
}

/** How a reduce-style node derives from its predecessor.
  *
  * @param pred     the reduced node
  * @param reduced  dims consumed by this reduce (dims of `pred` at creation
  *                 time for reduce-all; later-mapped dims pass through, as
  *                 in the reference where later maps relabel reduce nodes)
  * @param groupKey for `groupby(col).reduce(...)`: the key node whose values
  *                 become the new dim's labels (reference graph.py:540-592)
  */
final case class ReduceSpec(
    pred: String,
    reduced: Vector[String],
    groupKey: Option[String]
)

/** The engine's task graph: an immutable DAG of named nodes over lazy
  * DataFrame parameter tables.
  *
  * This is the Spark-native equivalent of the reference's `Graph`
  * (src/cyclebane/graph.py:184-592). The reference only rewrites graph
  * metadata and delegates execution; here the same driver-side metadata
  * moves are kept (cheap, eager-validated), but `result`/`taskTable`
  * *execute* the expanded plan as DataFrame dataflows — Catalyst plans the
  * joins/aggregations, so the Cartesian node expansion the reference
  * performs driver-side (graph.py:367-424) never materializes: it stays a
  * lazy relational plan that scales out.
  *
  * Node execution semantics:
  *  - mapped source node: value column of its `DimGroup`.
  *  - derived node with attr "expr": SQL expression over its predecessors'
  *    value columns (the engine's executable payload; the reference carries
  *    opaque attrs for an external scheduler, graph.py:285,311).
  *  - derived node without "expr": pass-through (single pred) or
  *    struct(preds).
  *  - reduce node: aggregate attr "func" (sum/min/max/count/avg/...) over
  *    the consumed dims; default is the order-stable structural collect
  *    `sort_array(collect_list(...))` for reference fan-in parity.
  */
final case class TaskGraph(
    dag: Dag,
    groups: Vector[DimGroup],
    reduces: Map[String, ReduceSpec]
) {

  // ---------------------------------------------------------------- catalog

  /** node -> group index for mapped source nodes. */
  lazy val mappedNode: Map[String, Int] =
    groups.zipWithIndex.flatMap { case (g, i) => g.valueCols.keys.map(_ -> i) }.toMap

  def isMapped(n: String): Boolean = mappedNode.contains(n)

  /** Groupby-created dims (named after their key node), insertion-ordered. */
  lazy val groupbyDims: Vector[String] =
    dag.nodeList.flatMap(n => reduces.get(n).flatMap(_.groupKey)).distinct

  /** Global dim ordering for derived-node dim tuples: later map calls
    * *prepend* their dims (reference graph.py:109-112: `indices +
    * node.indices`), so map dims rank newest-first (group order preserved
    * within one call); groupby dims go last (axis-order rule, reference
    * groupby_test.py:771-824).
    */
  private lazy val dimRank: Map[String, Int] =
    (groups.reverse.flatMap(_.dims) ++ groupbyDims).zipWithIndex.toMap

  /** Dims of each node, outermost first. */
  lazy val nodeDims: Map[String, Vector[String]] = {
    val m = scala.collection.mutable.Map.empty[String, Vector[String]]
    dag.topologicalOrder.foreach { n =>
      if (isMapped(n)) m(n) = groups(mappedNode(n)).dims
      else reduces.get(n) match {
        case Some(spec) =>
          val predDims = m.getOrElse(spec.pred, Vector.empty)
          val kept = predDims.filterNot(spec.reduced.contains)
          val dims = spec.groupKey.fold(kept)(k => kept :+ k)
          if (dims.nonEmpty) m(n) = dims
        case None =>
          val ds = dag.predecessors(n).flatMap(p => m.getOrElse(p, Vector.empty)).distinct
          if (ds.nonEmpty) m(n) = ds.sortBy(d => dimRank.getOrElse(d, Int.MaxValue))
      }
    }
    m.toMap
  }

  def dimsOf(n: String): Vector[String] = nodeDims.getOrElse(n, Vector.empty)

  /** All dims of the graph, in insertion order (reference graph.py:229-237).
    * A dim may be backed by several groups (shared index name, validated
    * label-equal) or by a group and a groupby — it is listed once.
    */
  def indexNames: Vector[String] = (groups.flatMap(_.dims) ++ groupbyDims).distinct

  /** Distinct labels of a dim, as a single-column DataFrame named after the
    * dim. Stays lazy — label sets can be fact-table-sized.
    */
  def indices(dim: String): DataFrame = labelGroup(dim).labelFrame(dim).distinct()

  /** The group a dim's labels come from: the first group holding the dim,
    * else, for a groupby dim, a one-dim view of its key node's frame, whose
    * values are the labels.
    */
  private def labelGroup(dim: String): DimGroup =
    groups.find(_.dims.contains(dim)).getOrElse {
      if (!groupbyDims.contains(dim)) throw new GraftException(s"unknown dim '$dim'")
      DimGroup(Vector(dim), result(dim), Map.empty, Map(dim -> dim))
    }

  // ------------------------------------------------------------------- map

  /** Map source nodes over columns of a DataFrame (joint map: all columns
    * share one new dim — zip semantics, reference node_values.py:95-110).
    * Node names not yet in the graph are auto-added as sources (the
    * labels-for-later-groupby pattern, reference graph.py:260-263); mapping
    * a non-source node raises (graph.py:127-135).
    *
    * @param df       parameter table
    * @param nodes    node name -> column name in df (default: every column
    *                 except `indexCol`, mapped to the same-named node)
    * @param indexCol label column for the new dim; None = positional labels
    * @param dimName  name of the new dim; default `dim_<axis_zero>` with
    *                 axis_zero = number of existing dims (graph.py:255-257)
    */
  def mapFrame(
      df: DataFrame,
      nodes: Map[String, String] = null,
      indexCol: Option[String] = None,
      dimName: String = null
  ): TaskGraph = {
    val nodeMap = Option(nodes).getOrElse {
      df.columns.filterNot(indexCol.contains).map(c => c -> c).toMap
    }
    val dim = Option(dimName).getOrElse {
      // axis_zero naming (graph.py:255-257), skipping collisions
      Iterator.from(indexNames.size).map(i => s"dim_$i")
        .find(d => !indexNames.contains(d)).get
    }
    addGroup(DimGroup(
      dims = Vector(dim),
      df = df,
      valueCols = nodeMap,
      labelCols = indexCol.map(dim -> _).toMap))
  }

  /** Map a single node over an N-D array-like in tidy form: `dimLabels`
    * gives (dim name -> label column) outermost first (reference N-D
    * adapters, value_array_adapters.py:141-316).
    */
  def mapND(
      node: String,
      df: DataFrame,
      dimLabels: Seq[(String, String)],
      valueCol: String
  ): TaskGraph =
    addGroup(DimGroup(
      dims = dimLabels.map(_._1).toVector,
      df = df,
      valueCols = Map(node -> valueCol),
      labelCols = dimLabels.toMap))

  /** Adapter dispatch (reference `ValueArray.from_array_like` registry,
    * value_array.py:26-39): route each mapped value to the right
    * ingestion path by shape —
    *  - a `DataFrame` is a mapping of columns (the pandas-DataFrame rule):
    *    every column becomes a node, jointly mapped on one fresh dim;
    *  - a `Map[String, Seq[_]]` -> [[mapSeqs]] (the sequence adapter: one
    *    shared positional dim, zip semantics). A nested `Seq` element is a
    *    VALUE, not an extra dim — the reference sequence adapter does not
    *    descend into nested plain lists (graph_test.py:132-139); N-D
    *    ingestion is the EXPLICIT ndarray-equivalent path,
    *    [[mapNestedSeqs]] / [[mapND]]. Any other value raises, naming
    *    its node.
    */
  def map(values: Any)(implicit spark: SparkSession): TaskGraph = values match {
    case df: DataFrame => mapFrame(df)
    case m: Map[_, _] =>
      require(m.nonEmpty, "empty map")
      mapSeqs(m.map {
        case (k: String, v: Seq[_]) => k -> v
        case (k, v) => throw new GraftException(s"cannot map node '$k' to a value of type " +
          s"${Option(v).fold("null")(_.getClass.getName)}: map takes a Map[String, Seq]")
      })
    case other =>
      throw new GraftException(s"cannot map value of type ${other.getClass.getName}")
  }

  /** Map nodes over N-D nested sequences (reference `NumpyArrayAdapter`,
    * value_array_adapters.py:257-316): dims are `dim_{axis_zero+i}` with
    * default range coords per axis; all values in one call must have the
    * same shape and share the dims (node_values.py:104-109). The nested
    * structure is flattened to tidy form driver-side — parameter values
    * passed as in-memory literals are metadata-scale by definition (large
    * arrays come in as DataFrames via mapND).
    */
  def mapNestedSeqs(values: Map[String, Seq[Any]])(implicit spark: SparkSession): TaskGraph = {
    def shapeOf(v: Any): Vector[Int] = v match {
      case s: Seq[_] =>
        // validate every sibling, not just the head: ragged input must
        // raise (the reference ndarray adapter cannot represent it), not
        // silently drop or misassign values
        val sub = s.map(shapeOf).distinct
        if (sub.size > 1)
          throw new GraftException(
            "ragged nested sequence: all slices of one axis must have the same shape")
        s.size +: sub.headOption.getOrElse(Vector.empty)
      case _ => Vector.empty
    }
    val names = values.keys.toVector.sorted
    val shapes = names.map(n => shapeOf(values(n))).toSet
    if (shapes.size != 1)
      throw new GraftException(
        "All value sequences in a map operation must have the same shape. " +
          "Use multiple map operations if necessary.")
    val shape = shapes.head
    def flatten(v: Any): Vector[Any] = v match {
      case s: Seq[_] => s.toVector.flatMap(flatten)
      case x => Vector(x)
    }
    val flat = names.map(n => flatten(values(n)))
    val n = shape.product
    // multi-index in row-major order, like numpy
    val indices = (0 until n).map { i =>
      shape.scanRight(1)(_ * _).tail.zip(shape).map { case (stride, len) =>
        (i / stride) % len
      }
    }
    val axisZero = indexNames.size
    val dims = shape.indices.map(i => s"dim_${axisZero + i}").toVector
    val rows = (0 until n).map(i =>
      Row.fromSeq(indices(i) ++ names.zipWithIndex.map { case (_, j) => flat(j)(i) }))
    val schema = StructType(
      dims.map(d => StructField(d, org.apache.spark.sql.types.IntegerType)) ++
        names.map(nm => StructField("__v_" + nm, TaskGraph.sparkTypeOf(flat(names.indexOf(nm))))))
    val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    addGroup(DimGroup(
      dims = dims,
      df = df,
      valueCols = names.map(nm => nm -> ("__v_" + nm)).toMap,
      labelCols = dims.map(d => d -> d).toMap))
  }

  /** Map nodes over in-memory sequences (reference `SequenceAdapter`,
    * value_array_adapters.py:23-68): all sequences share one positional dim
    * and must have equal length (node_values.py:104-109).
    */
  def mapSeqs(values: Map[String, Seq[Any]])(implicit spark: SparkSession): TaskGraph = {
    require(values.nonEmpty, "empty map")
    val sizes = values.values.map(_.size).toSet
    if (sizes.size > 1)
      throw new GraftException(
        "All value sequences in a map operation must have the same shape. " +
          "Use multiple map operations if necessary.")
    val names = values.keys.toVector.sorted
    val rows = (0 until sizes.head).map(i => Row.fromSeq(names.map(n => values(n)(i))))
    val schema = StructType(names.map(n => StructField(n, TaskGraph.sparkTypeOf(values(n)))))
    // LocalRelation (not an RDD): in-memory param tables stay eligible
    // for eager label validation and broadcast planning
    val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    mapFrame(df, names.map(n => n -> n).toMap, indexCol = None)
  }

  /** The single node-values merge (reference `NodeValues.merge`,
    * node_values.py:54-117): every `DimGroup` enters the catalog here,
    * whether from a `map*` call or from a graph spliced in by [[setItem]].
    * A re-mapped source node keeps its old dim names, and its labels, then
    * its values, pick the rule: other labels raise, the same labels with
    * other values replace, the same labels and values are a no-op. A new
    * dim named like an existing map or groupby dim must carry the same
    * labels, compared as sets. Every check is [[TaskGraph.labelsMatch]]:
    * in-memory inputs are compared here; other inputs defer to the dim
    * join (with a length check under `spark.graft.strictValidation`), and
    * a deferred re-map replaces.
    */
  private def addGroup(group0: DimGroup): TaskGraph = {
    // Re-map detection runs BEFORE dim-collision validation so an
    // identical re-map with the same explicit dim name is a no-op, not a
    // "dim already exists" error (reference node_values.py:54-93).
    var d = dag
    var gs = groups
    var freshCols = group0.valueCols
    val remapDims = scala.collection.mutable.Set.empty[String]
    // A re-mapped node must keep its ORIGINAL dim names — otherwise a
    // replace would detach it from its co-mapped siblings' shared dim and
    // turn zip alignment into a silent cross product. All re-mapped nodes
    // in one call must therefore come from groups with the same dims.
    var renameTo: Option[Vector[String]] = None
    group0.valueCols.foreach { case (n, _) =>
      if (d.contains(n)) {
        if (d.predecessors(n).nonEmpty)
          throw new GraftException(s"Mapped node '$n' is not a source node")
        // look up the CURRENT group holding n (an earlier node of this
        // same call may already have replaced the pre-call group — a
        // lookup via the pre-call catalog would miss it)
        gs.find(_.valueCols.contains(n)).foreach { old =>
          // Dim names may differ when auto-generated. Every dim pair is
          // checked, so each deferred one gets its strict-mode length check.
          if (old.dims.size != group0.dims.size)
            throw new GraftException(s"Node '$n' has already been mapped")
          val labels = old.dims.zip(group0.dims).map { case (od, nd) =>
            TaskGraph.labelsMatch(old, od, group0, nd, asSets = false)
          }
          if (labels.contains(Some(false)))
            throw new GraftException(
              s"Node '$n' has already been mapped with different indices")
          if (renameTo.exists(_ != old.dims))
            throw new GraftException(
              "Nodes re-mapped in one call belong to groups with different dims")
          renameTo = Some(old.dims)
          remapDims ++= old.dims
          remapDims ++= group0.dims
          // values compare beside their labels: a permutation is new values
          val valuesMatch = labels.forall(_.contains(true)) && TaskGraph.sameData(
            old.frame(needPositional = true).select((old.dims :+ n).map(colOf): _*),
            group0.frame(needPositional = true).select((group0.dims :+ n).map(colOf): _*)
          ).contains(true)
          if (valuesMatch) freshCols -= n // no-op
          else gs = gs.map(og => // replace: new mapping wins
            if (og.valueCols.contains(n)) og.copy(valueCols = og.valueCols - n)
            else og)
        }
      } else d = d.addNode(n)
    }
    // Rename the incoming group's dims to the replaced group's names so
    // the re-mapped node stays aligned with its siblings (no-op when the
    // names already agree, e.g. explicit dimName re-maps).
    val group = renameTo match {
      case Some(newDims) if newDims != group0.dims =>
        val mapping = group0.dims.zip(newDims).toMap
        group0.copy(dims = newDims,
          labelCols = group0.labelCols.map { case (dm, c) => mapping(dm) -> c })
      case _ => group0
    }
    // A dim name colliding with an existing dim is allowed when the label
    // values are identical — the dims become SHARED and descendants align
    // on them (reference node_values.py:79-90: same index name requires
    // equal index values). Conflicting labels raise.
    group.dims.filterNot(remapDims.contains).foreach { dm =>
      val holders = gs.filter(og => og.valueCols.nonEmpty && og.dims.contains(dm)) ++
        Option.when(groupbyDims.contains(dm))(labelGroup(dm))
      holders.foreach(TaskGraph.requireSameLabels(dm, _, group))
    }
    if (freshCols.isEmpty) return copy(dag = d, groups = gs.filter(_.valueCols.nonEmpty))
    copy(dag = d, groups = gs.filter(_.valueCols.nonEmpty) :+ group.copy(valueCols = freshCols))
  }

  // ---------------------------------------------------------------- derive

  /** Add a derived node computing a SQL expression over its predecessors'
    * value columns. This is the engine's executable payload (the [ext]
    * surface); the reference's nodes carry opaque attrs consumed by
    * external schedulers (graph.py:285,311).
    */
  def withExpr(name: String, preds: Seq[String], sqlExpr: String,
      attrs: Map[String, String] = Map.empty): TaskGraph =
    withNode(name, preds, attrs + ("expr" -> sqlExpr))

  /** Merge attrs onto an EXISTING node (the reference's
    * `g.nodes[name]['attr'] = value`, graph_test.py:1041-1104); the
    * engine's preservation/merge rules (map, branch select, splice,
    * clone) then apply to them like any construction-time attrs. */
  def withAttrs(name: String, attrs: Map[String, String]): TaskGraph = {
    require(dag.contains(name), s"unknown node '$name'")
    copy(dag = dag.addNode(name, attrs))
  }

  /** Add a plain (opaque) node with edges from preds. */
  def withNode(name: String, preds: Seq[String],
      attrs: Map[String, String] = Map.empty): TaskGraph = {
    if (dag.contains(name))
      throw new GraftException(s"Node '$name' already exists in the graph.")
    var d = dag.addNode(name, attrs)
    preds.foreach { p =>
      require(d.contains(p), s"unknown predecessor '$p'")
      d = d.addEdge(p, name)
    }
    copy(dag = d)
  }

  // ---------------------------------------------------------------- reduce

  /** Add a fan-in node reducing `key` over one dim (`index` by name, `axis`
    * by position into the node's dim tuple) or all dims if neither given
    * (reference graph.py:278-341). The reduced node is kept — multiple
    * reduces of the same node coexist (graph_test.py:494-543).
    */
  def reduce(
      key: String = null,
      index: String = null,
      axis: Integer = null,
      name: String = null,
      attrs: Map[String, String] = Map.empty
  ): TaskGraph =
    reduceImpl(key, Option(index), Option(axis).map(_.intValue), name, attrs, None)

  private[core] def reduceImpl(
      key0: String, index: Option[String], axis: Option[Int],
      name0: String, attrs: Map[String, String], extraDim: Option[String]
  ): TaskGraph = {
    if (index.isDefined && axis.isDefined)
      throw new GraftException("Only one of index and axis can be given")
    val key = Option(key0).getOrElse(dag.uniqueSink)
    require(dag.contains(key), s"unknown node '$key'")
    val name = Option(name0).getOrElse(
      "reduce_" + java.util.UUID.randomUUID().toString.replace("-", ""))
    if (dag.contains(name))
      throw new GraftException(s"Node '$name' already exists in the graph.")
    val dims = dimsOf(key)
    index.foreach { i =>
      if (!dims.contains(i))
        throw new GraftException(s"Node '$key' does not have index '$i'.")
    }
    axis.foreach { a =>
      if (a < 0 || a >= dims.size)
        throw new GraftException(s"Node '$key' does not have axis '$a'.")
    }
    val reduced: Vector[String] =
      if (index.isDefined) Vector(index.get)
      else if (axis.isDefined) Vector(dims(axis.get))
      else dims
    var d = dag.addNode(name, attrs).addEdge(key, name)
    // The groupby key node is wired as a predecessor of the reduce node so
    // that branch selection keeps the grouping alive — the engine analogue
    // of the reference storing the grouping as a node value on the reduce
    // node (graph.py:579-585) which getitem's keep-set preserves.
    extraDim.foreach(k => d = d.addEdge(k, name))
    copy(dag = d, reduces = reduces + (name -> ReduceSpec(key, reduced, extraDim)))
  }

  /** Start a value-based grouping on a mapped column (reference
    * graph.py:275-276, 540-592).
    */
  def groupby(keyNode: String): GroupbyTaskGraph = {
    if (!isMapped(keyNode))
      throw new GraftException(s"Node '$keyNode' is not mapped; cannot groupby.")
    new GroupbyTaskGraph(this, keyNode)
  }

  // --------------------------------------------------------------- slicing

  /** Positional slice [lo, hi) of `dim` before expansion: the graph shape
    * is unchanged, fewer copies materialize (reference graph.py:154-178) —
    * i.e. a predicate pushed below the whole expansion.
    */
  def byPosition(dim: String, lo: Int, hi: Int): TaskGraph =
    mapGroupsForDim(dim)(_.sliceByPosition(dim, lo, hi))

  /** Label-based point selection on `dim` (reference value_array.py:56-58). */
  def sel(dim: String, label: Any): TaskGraph =
    mapGroupsForDim(dim)(_.selLabel(dim, label))

  /** Label-range slice [lo, hi) on `dim` (reference value_array.py:60-71). */
  def loc(dim: String, lo: Any, hi: Any): TaskGraph =
    mapGroupsForDim(dim)(_.sliceByLabel(dim, lo, hi))

  private def mapGroupsForDim(dim: String)(f: DimGroup => DimGroup): TaskGraph = {
    if (groups.exists(_.dims.contains(dim)))
      return copy(groups = groups.map(g => if (g.dims.contains(dim)) f(g) else g))
    // A groupby-created dim has no DimGroup of its own: its labels ARE the
    // key node's values (reference slices the stored grouping the same
    // way). Slicing it filters the key node's parameter table through a
    // synthetic label view backed by the VALUE column — every downstream
    // expansion, including the reduce's groups, shrinks accordingly.
    if (groupbyDims.contains(dim) && isMapped(dim)) {
      return copy(groups = groups.map { g =>
        if (!g.valueCols.contains(dim)) g
        else {
          // a positional sibling dim must be label-backed for the view to
          // satisfy DimGroup's shape invariant; its labels become the old
          // positions, exactly as sliceByPosition does on positional dims
          val (baseDf, baseLabels) = g.positionalDim match {
            case Some(pd) => (g.withPositions,
              g.labelCols + (pd -> TaskGraph.posCol(pd)))
            case None => (g.df, g.labelCols)
          }
          val view = g.copy(df = baseDf, dims = g.dims :+ dim,
            labelCols = baseLabels + (dim -> g.valueCols(dim)))
          val sliced = f(view)
          sliced.copy(dims = g.dims, labelCols = sliced.labelCols - dim)
        }
      })
    }
    throw new GraftException(s"unknown dim '$dim'")
  }

  // ------------------------------------------------------------ branch ops

  /** Branch select: subgraph of `key` + all ancestors; drops node values
    * not in the branch (reference graph.py:443-461).
    */
  def getItem(key: String): TaskGraph = {
    require(dag.contains(key), s"unknown node '$key'")
    prunedDag(dag.subgraph(dag.ancestors(key) + key))
  }

  /** Branch delete: remove `key`'s exclusive ancestors (those not feeding
    * other sinks) and its attrs; `key` stays as a bare input. Refuses on
    * mapped nodes (reference graph.py:463-478, 30-53).
    */
  def delItem(key: String): TaskGraph = {
    require(dag.contains(key), s"unknown node '$key'")
    if (isMapped(key) || dimsOf(key).nonEmpty)
      throw new GraftException("Cannot delete mapped node.")
    val d1 = removeExclusiveAncestors(key)
    val pruned = prunedDag(Dag(d1.nodeList,
      d1.attrs + (key -> Map.empty[String, String]),
      d1.edgeList.filterNot(_._2 == key)))
    // the key's old DEFINITION dies with its data, not just its attrs: a
    // reduce spec can survive prunedDag when the reduced pred also feeds
    // another sink, and frameOf consults `reduces` before DAG preds — the
    // key would keep aggregating instead of becoming the bare input the
    // reference specifies (graph.py:463-478). Same rule setItem applies.
    pruned.copy(reduces = pruned.reduces - key)
  }

  /** Ancestors of `key` whose every remaining path leads only into `key`
    * are removed (reference `_remove_ancestors`, graph.py:30-53).
    */
  private def removeExclusiveAncestors(key: String): Dag = {
    val anc = dag.ancestors(key)
    val withoutKey = dag.removeNodes(Set(key))
    val toRemove = anc.filter(a => withoutKey.descendants(a).subsetOf(anc))
    dag.removeNodes(toRemove)
  }

  /** Branch replace/compose: splice `other` in at `key`, renaming `other`'s
    * unique sink to `key` (reference graph.py:480-537). Intersecting nodes
    * must have identical predecessors and attrs; mapped-on-unmapped raises.
    * `other`'s node values merge through [[addGroup]], the same merge `map`
    * uses (node_values.py:54-117), so re-maps and label conflicts behave
    * exactly as in `map`; the renamed sink's values are preserved.
    */
  def setItem(key: String, other: TaskGraph): TaskGraph = {
    val sink = other.dag.uniqueSink
    val sinkMapped = other.isMapped(sink) || other.dimsOf(sink).nonEmpty
    val keyMapped = dag.contains(key) && (isMapped(key) || dimsOf(key).nonEmpty)
    if (sinkMapped != keyMapped)
      throw new GraftException(
        "Trying to set mapped node on non-mapped node (or vice versa) is " +
          "not possible in setItem")
    val renamedDag = if (sink == key) other.dag else other.dag.renameNode(sink, key)
    val base: Dag =
      if (dag.contains(key)) {
        val d = removeExclusiveAncestors(key)
        // the key's old attrs die with its old definition (reference
        // _remove_ancestors clears the node's data, graph.py:30-53) — a
        // surviving "expr"/"func" attr would poison the spliced branch
        Dag(d.nodeList, d.attrs + (key -> Map.empty[String, String]),
          d.edgeList.filterNot(_._2 == key))
      } else dag
    val intersection = base.nodes.intersect(renamedDag.nodes) - key
    intersection.foreach { n =>
      if (base.predecessors(n).toSet != renamedDag.predecessors(n).toSet)
        throw new GraftException(s"Node inputs differ for node '$n'")
      if (base.attrs.getOrElse(n, Map.empty) != renamedDag.attrs.getOrElse(n, Map.empty))
        throw new GraftException(s"Node data differs for node '$n'")
    }
    val composed = base.compose(renamedDag)
    // Merge node values (node_values.py:54-93), renaming the sink's mapping
    // to `key` (graph.py:524-535).
    val renamedGroups = other.groups.map { g =>
      if (g.valueCols.contains(sink) && sink != key)
        g.copy(valueCols = (g.valueCols - sink) + (key -> g.valueCols(sink)))
      else g
    }
    val renamedReduces = other.reduces.map {
      case (n, spec) =>
        val n2 = if (n == sink) key else n
        val p2 = if (spec.pred == sink) key else spec.pred
        n2 -> spec.copy(pred = p2)
    }
    var merged = prunedDag(composed)
    // Branch REPLACE at a value-mapped key: when the incoming sink is a
    // reduce node, it becomes the key's new definition and the key's old
    // value mapping is dropped — after validating that the dim names and
    // label values align (the reference's replace-on-identical-labels
    // rule, node_values.py:54-93, exercised by the chained-groupby splice
    // pattern, groupby_test.py:50-154: `mapped['e'] = grouped` over a
    // table indexed by the earlier groupby's dim).
    if (renamedReduces.contains(key) && merged.isMapped(key)) {
      val og = merged.groups(merged.mappedNode(key))
      val newDims = other.dimsOf(sink)
      if (og.dims != newDims)
        throw new GraftException(
          s"Node '$key' has already been mapped with different indices")
      // the key's labels must match the incoming ones (shared label check)
      og.dims.foreach(dm => TaskGraph.requireSameLabels(dm, og, other.labelGroup(dm)))
      merged = merged.copy(groups = merged.groups
        .map(g => if (g eq og) g.copy(valueCols = g.valueCols - key) else g)
        .filter(_.valueCols.nonEmpty))
    }
    // Conversely, a value-mapped incoming sink supersedes any stale
    // reduce spec the key had on the base side.
    if (renamedGroups.exists(_.valueCols.contains(key)))
      merged = merged.copy(reduces = merged.reduces - key)
    // every incoming group merges through addGroup, the one node-values
    // merge that map uses too (node_values.py:54-117)
    merged = renamedGroups.foldLeft(merged)(_.addGroup(_))
    // the key's OLD reduce spec dies unconditionally: the spliced graph's
    // sink is the key's new definition, whatever its kind — keeping a
    // stale spec would make frameOf (which consults reduces before DAG
    // preds) silently ignore the spliced branch when the incoming sink is
    // a plain derived node. renamedReduces re-adds the key when the
    // incoming sink IS a reduce.
    merged.copy(reduces = (merged.reduces - key) ++ renamedReduces
      .filter { case (n, spec) => composed.contains(n) && composed.contains(spec.pred) })
  }

  /** Rebuild catalog consistency after DAG surgery: drop value mappings and
    * reduce specs for nodes no longer present; drop empty groups.
    */
  private def prunedDag(d: Dag): TaskGraph = {
    val gs = groups
      .map(g => g.copy(valueCols = g.valueCols.filter { case (n, _) => d.contains(n) }))
      .filter(_.valueCols.nonEmpty)
    val rs = reduces.filter { case (n, spec) => d.contains(n) && d.contains(spec.pred) }
    TaskGraph(d, gs, rs)
  }

  // ------------------------------------------------------------- execution

  /** The expansion frame of a node: a lazy DataFrame with one label column
    * per dim of the node (named after the dim) plus the node's value column
    * (named after the node) — plus the value columns of its nearest mapped,
    * reduce or bare ancestors and their co-grouped siblings, which arrive
    * free. Derived intermediate columns do not: a derived node's frame
    * drops each one after the last derived node that reads it
    * ([[derivedFrame]]), so `result(d)` carries no column of a derived
    * ancestor of `d`. This replaces the reference's driver-side
    * Cartesian clone expansion (graph.py:367-424): the expansion is
    * *declared* relationally and Catalyst plans it, so it never
    * materializes on the driver and scales to arbitrarily large dims.
    *
    * One discipline builds every frame: mapped, reduce and bare nodes have
    * frames of their own; a derived node is a COLUMN over the one join of
    * its nearest such ancestors ([[derivedFrame]], [[joinInputs]]). A
    * diamond is therefore a projection of its source's frame, and the plan
    * grows linearly with the DAG; joins remain only where dims differ —
    * independent dims cross (the reference's chained-map cross product,
    * graph_test.py:382-402), shared dims equi-join on the dim label.
    */
  def result(node: String, needPositional: Boolean = false): DataFrame = {
    require(dag.contains(node), s"unknown node '$node'")
    val memo = scala.collection.mutable.Map.empty[(String, Boolean), DataFrame]
    frameOf(node, needPositional, memo)
  }

  /** Is `d` a positional dim whose labels are not yet materialized? */
  private def isPositionalDim(d: String): Boolean =
    groups.exists(g => g.dims.contains(d) && !g.labelCols.contains(d))

  /** A plain node computed from its predecessors (not mapped, not a reduce,
    * not a bare input). */
  private def isDerived(n: String): Boolean =
    !isMapped(n) && !reduces.contains(n) && dag.predecessors(n).nonEmpty

  private def frameOf(n: String, needPos: Boolean,
      memo: scala.collection.mutable.Map[(String, Boolean), DataFrame]): DataFrame =
    memo.getOrElseUpdate((n, needPos), {
      if (isMapped(n)) groups(mappedNode(n)).frame(needPos)
      else reduces.get(n) match {
        case Some(spec) => reduceFrame(n, spec, needPos, memo)
        case None if isDerived(n) => derivedFrame(n, needPos, memo)
        case None =>
          val spark = groups.headOption.map(_.df.sparkSession)
            .getOrElse(SparkSession.active)
          spark.range(1).select(lit(null).cast("string").as(n))
      }
    })

  /** A derived node's frame: its nearest non-derived ancestors (mapped,
    * reduce or bare nodes) joined once by [[joinInputs]], then one `select`
    * per topological level of the derived nodes on the way. A node's level
    * is its longest path from those inputs over the columns it reads (its
    * preds and the names its expression references). Each level keeps the
    * inputs' columns and the derived columns a later level still reads, so
    * the frame leaves with the inputs' columns plus `n`: its width follows
    * the DAG's width, not its depth, and an in-memory input folds each
    * level at that width. Derived nodes never join frames of their own, so
    * co-dimensional branches (a diamond a->b, a->c, {b,c}->d) stay one row
    * per copy of `a` — joining on a shared value column would cross-match
    * duplicate values, and joining the branches' frames on the dim label
    * would cross-match duplicate labels. A derived node named like a dim
    * raises: its column would replace that dim's labels.
    */
  private def derivedFrame(n: String, needPos: Boolean,
      memo: scala.collection.mutable.Map[(String, Boolean), DataFrame]): DataFrame = {
    val upstream = scala.collection.mutable.Set.empty[String]
    def visit(m: String): Unit =
      if (upstream.add(m) && isDerived(m)) dag.predecessors(m).foreach(visit)
    visit(n)
    val (derived, inputs) = dag.topologicalOrder.filter(upstream).partition(isDerived)
    derived.find(dimsOf(n).contains).foreach(d => throw new GraftException(
      s"Node '$d' is named like a dim of its inputs; rename the node or the dim"))
    val exprOf = derived.flatMap(d => dag.attrs.getOrElse(d, Map.empty).get("expr").map(d -> _)).toMap
    // an expression may name any column, as Spark resolves it: case-insensitively
    val named = derived.groupBy(_.toLowerCase)
    def reads(d: String): Seq[String] = dag.predecessors(d) ++ exprOf.get(d).toSeq.flatMap(e =>
      CatalystSqlParser.parseExpression(e).collect { case a: UnresolvedAttribute => a.nameParts }
        .flatten.flatMap(p => named.getOrElse(p.toLowerCase, Nil)))
    // a read resolves only against a column added by an earlier level, so
    // only reads earlier in topological order (the ones with a level) count
    val level = scala.collection.mutable.Map.empty[String, Int]
    val lastRead = scala.collection.mutable.Map(n -> Int.MaxValue)
    derived.foreach { d =>
      val rs = reads(d).filter(level.contains)
      level(d) = 1 + rs.map(level).foldLeft(0)(math.max)
      rs.foreach(r => lastRead(r) = math.max(lastRead.getOrElse(r, 0), level(d)))
    }
    derived.groupBy(level).toSeq.sortBy(_._1).foldLeft(joinInputs(inputs, needPos, memo)) {
      case (f, (l, ds)) =>
        val kept = f.columns.filter(c => !level.contains(c) || lastRead(c) > l)
        f.select(kept.map(colOf) ++ ds.map { d =>
          val preds = dag.predecessors(d)
          (exprOf.get(d) match {
            case Some(e) => expr(e)
            case None if preds.size == 1 => colOf(preds.head)
            case None => struct(preds.map(colOf): _*)
          }).as(d)
        }: _*)
    }
  }

  /** The one join of the expansion: the frames of `inputs`, joined once
    * with [[dimJoin]] on the dims they share. An input whose column an
    * earlier frame already carries (a co-grouped sibling, or a node inside
    * a derived frame) is skipped, not self-joined, so the joined frames
    * carry disjoint node columns. Positional labels are materialized only
    * when the caller observes them or two joined inputs share a positional
    * dim, whose labels then serve as the join key. A node column named
    * like a dim of another input would collide with that dim's label
    * column: a co-grouped bystander is dropped, an input itself raises.
    */
  private def joinInputs(inputs: Seq[String], needPos: Boolean,
      memo: scala.collection.mutable.Map[(String, Boolean), DataFrame]): DataFrame = {
    def carried(p: String): Set[String] =
      frameOf(p, needPos, memo).columns.toSet -- dimsOf(p)
    val joined = inputs.foldLeft(Vector.empty[String])((js, p) =>
      if (js.exists(carried(_).contains(p))) js else js :+ p)
    val dimUses = joined.flatMap(dimsOf(_).distinct)
    def shadowed(p: String): Set[String] = carried(p).filter(dimUses.contains)
    joined.flatMap(shadowed).find(inputs.contains).foreach(c => throw new GraftException(
      s"Node '$c' is named like a dim of a node it joins with; rename the node or the dim"))
    val pos = needPos || dimUses.diff(dimUses.distinct).exists(isPositionalDim)
    joined.map { p =>
      val f = frameOf(p, pos, memo)
      if (shadowed(p).isEmpty) f else f.drop(shadowed(p).toSeq: _*)
    }.reduce(dimJoin)
  }

  /** The reduce node's INPUT frame: the predecessor expansion, with the
    * groupby key column attached when not co-grouped. One row per
    * consumed pred copy — also the edge set of the fan-in (each input row
    * feeds exactly one output group). Positional dims that survive the
    * reduce are observed as group keys, so their labels are materialized.
    */
  private def reduceInput(n: String, spec: ReduceSpec, needPos: Boolean,
      memo: scala.collection.mutable.Map[(String, Boolean), DataFrame]): DataFrame =
    joinInputs(spec.pred +: spec.groupKey.toSeq,
      needPos || dimsOf(n).exists(isPositionalDim), memo)

  /** Null-safe equi-join on the columns two frames share — under
    * [[joinInputs]], exactly the label columns of their shared dims — or a
    * crossJoin when they share none (the reference's chained-map cross
    * product). Right-side keys are renamed to avoid self-join ambiguity,
    * and a null label aligns with itself.
    */
  private def dimJoin(left: DataFrame, right: DataFrame): DataFrame = {
    val joinDims = left.columns.intersect(right.columns).toSeq
    if (joinDims.isEmpty) left.crossJoin(right)
    else {
      val renamed = joinDims.foldLeft(right)((d0, d) =>
        d0.withColumnRenamed(d, "__jk_" + d))
      val cond = joinDims.map(d => colOf(d) <=> colOf("__jk_" + d)).reduce(_ && _)
      left.join(renamed, cond).drop(joinDims.map("__jk_" + _): _*)
    }
  }

  private def reduceFrame(n: String, spec: ReduceSpec, needPos: Boolean,
      memo: scala.collection.mutable.Map[(String, Boolean), DataFrame]): DataFrame = {
    val keptDims = dimsOf(n)
    val input = reduceInput(n, spec, needPos, memo)
    val attrs = dag.attrs.getOrElse(n, Map.empty)
    val aggExpr: Column = TaskGraph.aggFor(attrs, colOf(spec.pred)).as(n)
    if (keptDims.isEmpty) input.agg(aggExpr)
    else input.groupBy(keptDims.map(colOf): _*).agg(aggExpr)
  }

  /** Materialized task table: one row per node copy, with the node name,
    * its index labels (as strings) and its value (as string) — the parity
    * equivalent of the reference's `to_networkx()` (graph.py:367-424),
    * including the custom `value_attr` name (graph_test.py:1088-1104).
    * Tests/small graphs only: production consumers use `result(node)`.
    */
  def taskTable(valueAttr: String = "value"): DataFrame = {
    val frames = dag.topologicalOrder.map { n =>
      val f = result(n, needPositional = true)
      f.select(lit(n).as("node"), indexMapOf(dimsOf(n)).as("index"),
        colOf(n).cast("string").as(valueAttr))
    }
    frames.reduce(_.unionByName(_))
  }

  private def indexMapOf(dims: Vector[String]): Column =
    if (dims.isEmpty) expr("map()").cast("map<string,string>")
    else map_from_arrays(
      array(dims.map(lit(_)): _*),
      array(dims.map(d => colOf(d).cast("string")): _*))

  /** Materialized edge table: one row per edge between node COPIES — the
    * edge-set parity of the reference's `to_networkx()` (clone expansion
    * graph.py:595-611; groupby wiring `_make_groupby_graph`,
    * graph.py:426-441). For a regular edge the copies align on their
    * shared dims (the child frame carries the parent's dim labels); for a
    * fan-in edge each consumed pred copy connects to the group it lands
    * in (kept dims + its own group-key value); a groupby key node's copy
    * connects to the reduce copy labeled with its value. Tests/small
    * graphs only, like taskTable.
    */
  def edgeTable(): DataFrame = {
    if (dag.edgeList.isEmpty) {
      val spark = groups.headOption.map(_.df.sparkSession).getOrElse(SparkSession.active)
      return spark.emptyDataFrame
        .select(lit("").as("src"), expr("map()").cast("map<string,string>").as("src_index"),
          lit("").as("dst"), expr("map()").cast("map<string,string>").as("dst_index"))
    }
    val memo = scala.collection.mutable.Map.empty[(String, Boolean), DataFrame]
    val frames = dag.edgeList.map { case (p, c) =>
      val frame = reduces.get(c) match {
        case Some(spec) => reduceInput(c, spec, needPos = true, memo)
        case None => frameOf(c, needPos = true, memo)
      }
      // dedupe on the scalar label columns (set ops reject MAP columns),
      // then assemble the index maps
      val labelCols = (dimsOf(p) ++ dimsOf(c)).distinct
      frame.select(labelCols.map(colOf): _*).distinct()
        .select(
          lit(p).as("src"), indexMapOf(dimsOf(p)).as("src_index"),
          lit(c).as("dst"), indexMapOf(dimsOf(c)).as("dst_index"))
    }
    frames.reduce(_.unionByName(_))
  }
}

/** Intermediate for `groupby(col).reduce(...)` (reference graph.py:540-592). */
final class GroupbyTaskGraph(g: TaskGraph, keyNode: String) {
  /** Fan-in per distinct value of the groupby column. The consumed dim is
    * the key column's own (first) dim; the new dim is named after the key
    * column and appended last (reference graph.py:555-556, 586-592;
    * axis-order rule groupby_test.py:771-824).
    */
  def reduce(key: String = null, name: String = null,
      attrs: Map[String, String] = Map.empty): TaskGraph = {
    val consumed = g.dimsOf(keyNode).headOption.getOrElse(
      throw new GraftException(s"groupby key '$keyNode' has no dims"))
    g.reduceImpl(key, Some(consumed), None, name, attrs, Some(keyNode))
  }
}

object TaskGraph {

  def posCol(dim: String): String = "__pos_" + dim

  /** The column of a node or dim name: quoted, so a dot is part of the
    * name, not a struct field access. */
  private[core] def colOf(name: String): Column = col("`" + name.replace("`", "``") + "`")

  /** Opt-in strict shape validation
    * (`spark.conf.set("spark.graft.strictValidation", "true")`): the
    * file-backed validation paths normally defer to join semantics so
    * graph CONSTRUCTION never runs a Spark job — the right default at
    * 100 TB, but it turns a dim-length mismatch (which the reference
    * raises on eagerly) into silent row drops at execution time. Strict
    * mode adds a cheap eager LENGTH guard on exactly those deferred
    * paths: re-mapped dims must have equal label counts, and colliding
    * dims equal counts of distinct labels, or the call raises. Costs one
    * count() job per checked dim (plus the positional zipWithIndex pass
    * for positional file-backed dims).
    */
  def strictValidation(df: DataFrame): Boolean =
    df.sparkSession.conf.getOption("spark.graft.strictValidation")
      .exists(_.equalsIgnoreCase("true"))

  /** The row bound of every construction-time compare. */
  private val maxEagerRows = 100000

  /** The gate of every construction-time label check: every leaf of the
    * plan is driver-side data (in-memory rows, one row or a range — the
    * reference's whole universe). Comparing a file-backed frame while the
    * graph is built would be a fact-scale Spark job, so its checks defer.
    */
  private def isLocalPlan(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectLeaves().forall {
      case _: LocalRelation | _: OneRowRelation | _: RangeRelation => true
      case _ => false
    }

  /** The one construction-time label check (reference node_values.py:54-93):
    * do group `a`'s dim `ad` and group `b`'s dim `bd` carry the same labels,
    * as multisets ([[sameData]], a re-map) or as sets ([[labelsCompatible]],
    * a shared dim)? The [[isLocalPlan]] gate runs on both groups' source
    * frames before any label frame is built, as a file-backed positional
    * dim's labels would cost a zipWithIndex job. None when the check
    * defers, at the gate or past the compare's row bound: the dim join's
    * relational semantics then align the labels, and under
    * [[strictValidation]] the label counts (distinct counts for sets) must
    * at least agree.
    */
  private def labelsMatch(a: DimGroup, ad: String, b: DimGroup, bd: String,
      asSets: Boolean): Option[Boolean] = {
    val verdict =
      if (!isLocalPlan(a.df) || !isLocalPlan(b.df)) None
      else if (asSets) labelsCompatible(a.labelFrame(ad), b.labelFrame(bd))
      else sameData(a.labelFrame(ad), b.labelFrame(bd))
    if (verdict.isEmpty && strictValidation(a.df)) {
      def count(g: DimGroup, d: String) =
        (if (asSets) g.labelFrame(d).distinct() else g.labelFrame(d)).count()
      val (ca, cb) = (count(a, ad), count(b, bd))
      if (ca != cb)
        throw new GraftException(
          s"""Conflicting index lengths for index name "$ad" ($ca vs $cb)""")
    }
    verdict
  }

  /** The shared-dim rule (reference node_values.py:79-90): two groups
    * holding `dim` carry the same set of labels, or the call raises. */
  private def requireSameLabels(dim: String, a: DimGroup, b: DimGroup): Unit =
    if (labelsMatch(a, dim, b, dim, asSets = true).contains(false))
      throw new GraftException(s"""Conflicting index values for index name "$dim"""")

  /** Unit-carrying coordinate encoding (reference ScippDataArrayAdapter:
    * a coord with a unit yields `(value, unit)` tuple labels,
    * value_array_adapters.py:241-250). The label becomes a
    * `struct(value, unit)` column with the unit also recorded in the
    * column Metadata; `sel`/`loc` with a `(value, unit)` pair then match
    * value AND unit — a lookup in the wrong unit matches nothing.
    */
  def unitCoord(value: Column, unit: String): Column =
    struct(value.as("value"), lit(unit).as("unit")).as("coord",
      new org.apache.spark.sql.types.MetadataBuilder()
        .putString("unit", unit).build())

  /** Graph from a bare DAG shape (reference `Graph.__init__`). */
  def apply(dag: Dag): TaskGraph = TaskGraph(dag, Vector.empty, Map.empty)

  /** Linear chain helper (`a -> b -> c`). */
  def chain(names: String*): TaskGraph = TaskGraph(Dag.chain(names: _*))

  def fromEdges(edges: (String, String)*): TaskGraph =
    TaskGraph(Dag.fromEdges(edges: _*))

  /** Aggregate for a reduce node from its attrs (the executable engine
    * surface; reference nodes carry `attrs={'func': ...}` for an external
    * executor, graph_test.py:405-415). Default: order-stable structural
    * collect for reference fan-in parity. `sum_exact`/`avg_exact` sum via
    * decimal for order-independent floating-point results.
    */
  def aggFor(attrs: Map[String, String], c: Column): Column =
    attrs.getOrElse("func", "collect") match {
      case "sum" => sum(c)
      case "sum_exact" => sum(c.cast("decimal(27,6)")).cast("double")
      case "min" => min(c)
      case "max" => max(c)
      case "count" => count(c)
      case "avg" | "mean" => avg(c)
      case "avg_exact" => (sum(c.cast("decimal(27,6)")) / count(c)).cast("double")
      case "collect_set" => sort_array(collect_set(c))
      case "collect" | "collect_list" => sort_array(collect_list(c))
      case other => call_function(other, c)
    }

  /** The one construction-time compare: `a`'s and `b`'s rows as
    * [[labelKey]]s, judged on the driver by `same`. Plans with the same
    * result are equal without a collect, and frames of other column types
    * differ. Otherwise each side collects at most [[maxEagerRows]] + 1
    * rows (a plan folding to in-memory rows collects without a job); an
    * `a` past the bound is too large to compare while the graph is built
    * (None), and `b` reaches `same` cut at the bound.
    */
  private def compareRows(a: DataFrame, b: DataFrame)(
      same: (Seq[Any], Seq[Any]) => Option[Boolean]): Option[Boolean] = {
    if (a.queryExecution.analyzed.sameResult(b.queryExecution.analyzed)) return Some(true)
    if (a.schema.map(_.dataType) != b.schema.map(_.dataType)) return Some(false)
    def keys(df: DataFrame) = df.limit(maxEagerRows + 1).collect().toSeq.map(labelKey)
    val ka = keys(a)
    if (ka.size > maxEagerRows) None else same(ka, keys(b))
  }

  /** Re-map equality: the same rows as multisets (a cut `b` has more rows
    * than `a`, so it differs). */
  private def sameData(a: DataFrame, b: DataFrame): Option[Boolean] =
    compareRows(a, b) { (ka, kb) =>
      def counts(ks: Seq[Any]) = ks.groupMapReduce(identity)(_ => 1)(_ + _)
      Some(counts(ka) == counts(kb))
    }

  /** Shared-dim equality: the same labels as sets, duplicates compared
    * as one. A cut `b` raises on a label `a` lacks and otherwise defers. */
  private def labelsCompatible(a: DataFrame, b: DataFrame): Option[Boolean] =
    compareRows(a, b) { (ka, kb) =>
      val (sa, sb) = (ka.toSet, kb.toSet)
      if (!sb.subsetOf(sa)) Some(false)
      else if (kb.size > maxEagerRows) None
      else Some(sa == sb)
    }

  /** A value's identity as a label, with the equality Spark's `distinct`
    * and `<=>` use: byte arrays by content, -0.0 as 0.0, every NaN alike,
    * rows, sequences and maps element-wise.
    */
  private[core] def labelKey(v: Any): Any = v match {
    case b: Array[Byte] => b.toSeq
    case d: Double => java.lang.Double.doubleToLongBits(if (d == 0.0) 0.0 else d)
    case f: Float => java.lang.Float.floatToIntBits(if (f == 0.0f) 0.0f else f)
    case r: Row => r.toSeq.map(labelKey)
    case s: scala.collection.Seq[_] => s.map(labelKey)
    case m: scala.collection.Map[_, _] => m.map { case (k, x) => labelKey(k) -> labelKey(x) }
    case other => other
  }

  /** The Spark type of a sequence's values, taken from its first non-null
    * one (StringType when there is none). A nested sequence under the
    * SEQUENCE adapter is a value, not an extra dim (reference
    * graph_test.py:132-139): an array typed by its elements' elements.
    */
  def sparkTypeOf(s: Seq[Any]): DataType = s.find(_ != null) match {
    case Some(_: Seq[_]) => ArrayType(sparkTypeOf(s.flatMap {
      case inner: Seq[_] => inner
      case _ => Nil
    }))
    case Some(v) => Literal(v).dataType
    case None => StringType
  }
}
