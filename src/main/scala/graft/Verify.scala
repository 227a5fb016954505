package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession()
    // local-dev filter: SPARK_GRAFT_ONLY=q_a,q_b runs a subset (the
    // driver never sets it; scripts/check_oracle.py replays the subset)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val ran = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    run(spark, sfDir, outDir, SparkEntry.queries.size, ran,
      SparkEntry.oracleSql)
    spark.stop()
  }

  /** Replace every UNPAIRED surrogate with U+FFFD: an exception message
    * carrying half a non-BMP char (or one truncated by `take`) would make
    * the UTF-8 meta write throw — losing the very artifact that exists to
    * surface failures. Well-formed pairs pass through untouched.
    */
  private[graft] def sanitize(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (Character.isHighSurrogate(c) && i + 1 < s.length &&
          Character.isLowSurrogate(s.charAt(i + 1))) {
        sb.append(c).append(s.charAt(i + 1)); i += 2
      } else {
        sb.append(if (Character.isSurrogate(c)) '�' else c); i += 1
      }
    }
    sb.toString
  }

  /** Run each query, writing its result parquet under `outDir/<name>`,
    * plus `oracle_sql.json` and the declared-vs-written `verify_meta.json`
    * sidecar. Returns the failed map (name → sanitized message).
    * Extracted from [[main]] so the sidecar contract is testable
    * (VerifyMetaSpec) — `declared` is the full declared-surface size,
    * `ran` the (possibly filtered) subset actually executed.
    */
  private[graft] def run(spark: SparkSession, sfDir: String, outDir: String,
      declared: Int,
      ran: Iterable[(String, (SparkSession, String) => DataFrame)],
      oracleSql: Map[String, String]): Map[String, String] = {
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    ran.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed(name) = sanitize(String.valueOf(e.getMessage).take(500))
      }
      // bill each query standalone, as the bench does: drop cached plans
      // (session-owned lazy persists) and snapshot blocks between queries
      GraftSession.clearCaches(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // declared-vs-written sidecar: a query that crashes before its parquet
    // lands would otherwise just VANISH from the correctness surface (the
    // driver only compares dumps that exist) — the round-8/9 NTZ crashes
    // silently shrank 145 declared rows to 143 checked and nothing in the
    // artifacts said so. This makes the shrink (and its cause) visible.
    // Own try/catch: a meta-write bug must never take down the main
    // artifacts already on disk.
    try {
      val meta = Seq(
        s"${q("n_declared")}: $declared",
        s"${q("n_run")}: ${ran.size}",
        s"${q("n_written")}: ${ran.size - failed.size}",
        s"${q("failed")}: " + failed
          .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
      ).mkString("{", ",", "}")
      Files.writeString(Paths.get(s"$outDir/verify_meta.json"), meta)
    } catch { case e: Throwable =>
      System.err.println(s"[verify] sidecar write failed: ${e.getMessage}")
    }
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size}/${ran.size} queries FAILED: " +
        failed.keys.mkString(", "))
    failed.toMap
  }
}
