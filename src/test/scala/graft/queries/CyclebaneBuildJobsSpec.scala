package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import graft.core.SparkTestSession

/** Construction-time jobs of the cyclebane-surface queries: building a
  * query's DataFrame (`fn(spark, dir)`, no action) may start no more Spark
  * jobs than pinned here. The pins are the measured counts: one schema
  * job per parquet read, plus the extra jobs `cb_slice_pos` starts. A
  * new eager collect, count or positional-label pass in TaskGraph's
  * construction paths (the node-value merge of `map` and `setItem`,
  * slicing, groupby, the expansion's joins) raises a count above its pin
  * and fails here.
  */
class CyclebaneBuildJobsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.get
  private val dir = "/root/testdata/sf0.001"

  private val allowance: Map[String, Int] = Map(
    "cb_reduce_all" -> 1,
    "cb_groupby_sum" -> 1,
    "cb_joint_zip" -> 1,
    "cb_chained_cross" -> 2,
    "cb_slice_pos" -> 4,
    "cb_sel_label" -> 1,
    "cb_loc_range" -> 1,
    "cb_reduce_dim" -> 1,
    "cb_groupby_2d" -> 1,
    "cb_branch_getitem" -> 2,
    "cb_setitem_splice" -> 2,
    "cb_delitem" -> 1,
    "cb_tasktable" -> 1,
    "cb_indices" -> 1,
    "cb_edgetable" -> 1,
    "cb_groupby_chained" -> 3,
    "cb_map_2d" -> 1)

  test("every cb_* query has a pinned construction-job allowance") {
    assert(allowance.keySet == CyclebaneQueries.all.map(_.name).toSet)
  }

  CyclebaneQueries.all.foreach { q =>
    test(s"${q.name}: construction starts no more jobs than pinned") {
      val (_, jobs) = SparkTestSession.jobsStartedBy(q.fn(spark, dir))
      assert(jobs.size <= allowance(q.name),
        s"${q.name} started ${jobs.size} job(s) at construction, " +
          s"pinned ${allowance(q.name)}: " + jobs.mkString(" | "))
    }
  }
}
