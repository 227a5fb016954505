package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions.col

/** Runs one kernel column over a frame twice: through generated code
  * (whole-stage codegen, `CODEGEN_ONLY`, no fallback) and through
  * interpreted eval (no whole-stage codegen, `NO_CODEGEN`), and returns
  * each run's `id -> value` map in a form that compares floating point
  * by bits. The frame must not fold to a LocalRelation (build it over an
  * RDD): a folded projection is evaluated on the driver, in neither mode.
  */
object CodegenModes {

  private val modes = Seq(
    ("CODEGEN_ONLY", true), ("NO_CODEGEN", false))

  /** `(mode, id -> bits(value))` for each mode; `df` carries a long `id`. */
  def collectBoth(df: DataFrame, out: Column): Seq[(String, Map[Long, Any])] = {
    val conf = df.sparkSession.conf
    modes.map { case (mode, wholeStage) =>
      conf.set("spark.sql.codegen.factoryMode", mode)
      conf.set("spark.sql.codegen.wholeStage", wholeStage.toString)
      conf.set("spark.sql.codegen.fallback", "false")
      try {
        val q = df.select(col("id"), out.as("out"))
        val staged = q.queryExecution.executedPlan
          .find(_.isInstanceOf[WholeStageCodegenExec]).isDefined
        assert(staged == wholeStage, s"$mode: whole-stage codegen $staged")
        mode -> q.collect().map(r => r.getLong(0) -> bits(r.get(1))).toMap
      } finally Seq("factoryMode", "wholeStage", "fallback")
        .foreach(k => conf.unset(s"spark.sql.codegen.$k"))
    }
  }

  /** A result value with every double and float replaced by its bits
    * (so NaN equals NaN and -0.0 differs from 0.0), sequences and rows
    * by lists. */
  def bits(v: Any): Any = v match {
    case d: Double => "d" + java.lang.Double.doubleToLongBits(d)
    case f: Float => "f" + java.lang.Float.floatToIntBits(f)
    case s: scala.collection.Seq[_] => s.map(bits).toList
    case r: Row => r.toSeq.map(bits).toList
    case o => o
  }
}
