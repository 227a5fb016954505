package graftbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One closed-loop operation: one graph or one query, from construction
  * through the action's completion.
  */
trait Op {
  def id: String
  /** "core" for ops built on the TaskGraph API, "query" for QueryDef members */
  def layer: String
  /** Builds the op's DataFrame, timing engine calls through `clock`. */
  def run(spark: SparkSession, clock: OpClock): DataFrame
  /** Verdict on the op's output, taken outside the timed region: None when
    * correct, else what was wrong. */
  def check(df: DataFrame): Option[String]
}

trait Workload {
  def name: String
  /** Unmeasured passes after the cold one: enough for the pass time to
    * stop falling, as far as the run's length allows. */
  def warmupPasses: Int
  /** Makes the workload's inputs from `seed` (files go under `work`), runs
    * a warm-up read over them and returns the ops of one pass. */
  def setup(spark: SparkSession, seed: Long, work: String): Seq[Op]
}

object Workloads {
  /** `tables` and `members` configure query_mix; dag_depth takes neither. */
  def byName(n: String, tables: Option[String], members: Seq[String]): Option[Workload] =
    n match {
      case DagDepth.name => Some(DagDepth)
      case QueryMix.Name => Some(new QueryMix(members, tables))
      case _ => None
    }

  /** Runs `f` over `xs` concurrently (Spark runs the jobs side by side);
    * set-up uses it to write and read back its input tables. */
  def parallel[T, R](xs: Seq[T])(f: T => R): Seq[R] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    Await.result(Future.sequence(xs.map(x => Future(f(x)))), Duration.Inf)
  }
}

/** Ops whose output is `(k: Long, v: Long)` rows compared against answers
  * computed in plain Scala from the same seeded parameters.
  */
abstract class KeyedOp extends Op {
  val layer = "core"
  def expected: Map[Long, Long]
  def check(df: DataFrame): Option[String] = KeyedOp.compare(df.collect(), expected)
}

object KeyedOp {
  def compare(got: Array[Row], want: Map[Long, Long]): Option[String] = {
    val m = got.map(r => r.getLong(0) -> r.getLong(1)).toMap
    if (got.length != want.size || m.size != want.size)
      Some(s"${got.length} rows (${m.size} distinct keys), expected ${want.size}")
    else want.collectFirst {
      case (k, v) if !m.get(k).contains(v) => s"key $k: got ${m.get(k)}, expected $v"
    }
  }
}
