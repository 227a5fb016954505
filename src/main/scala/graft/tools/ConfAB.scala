package graft.tools

import graft.GraftSession

/** Storm-proof interleaved A/B of a RUNTIME SQL conf: for each rep, runs
  * every named query once under arm A (stock) and once under arm B (the
  * overlay from SPARK_GRAFT_CONF applied via spark.conf.set), alternating
  * within one JVM so host noise hits both arms equally. Reports per-arm
  * minima.
  *
  *   SPARK_GRAFT_CONF="spark.sql.adaptive.coalescePartitions.minPartitionSize=64k" \
  *     sbt "runMain graft.tools.ConfAB /root/testdata/sf0.1 5 q_a q_b"
  */
object ConfAB {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val names = args.drop(2).toSeq
    val overlay: Seq[(String, String)] = sys.env.getOrElse("SPARK_GRAFT_CONF", "")
      .split(";").toSeq.flatMap { kv =>
        kv.split("=", 2) match {
          case Array(k, v) if k.nonEmpty => Some(k.trim -> v.trim)
          case _ => None
        }
      }
    require(overlay.nonEmpty, "SPARK_GRAFT_CONF must carry the B-arm confs")
    val spark = GraftSession()
    spark.sparkContext.setLogLevel("ERROR")
    GraftSession.warmUp(spark, sfDir)
    // arm A's values; None = the key has no value, so arm A unsets it
    val stock: Map[String, Option[String]] =
      overlay.map { case (k, _) => (k, spark.conf.getOption(k)) }.toMap
    val qs = graft.SparkEntry.defs.map(d => d.name -> d.fn).toMap

    def run(n: String): Double = {
      GraftSession.clearCaches(spark)
      val t0 = System.nanoTime()
      qs(n)(spark, sfDir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    val a = scala.collection.mutable.Map.empty[String, List[Double]]
    val b = scala.collection.mutable.Map.empty[String, List[Double]]
    // alternate arm order per rep so neither arm systematically enjoys
    // the warmer caches of running second
    for (r <- 1 to reps; n <- names) {
      def runA(): Unit = {
        overlay.foreach { case (k, _) =>
          stock(k).fold(spark.conf.unset(k))(spark.conf.set(k, _))
        }
        a(n) = run(n) :: a.getOrElse(n, Nil)
      }
      def runB(): Unit = {
        overlay.foreach { case (k, v) => spark.conf.set(k, v) }
        b(n) = run(n) :: b.getOrElse(n, Nil)
      }
      if (r % 2 == 1) { runA(); runB() } else { runB(); runA() }
    }
    for (n <- names) {
      val (av, bv) = (a(n).reverse, b(n).reverse)
      println(f"[ab] $n%-26s A_min=${av.min}%6.2f B_min=${bv.min}%6.2f " +
        f"ratio=${av.min / bv.min}%5.2f  A=${av.map(t => f"$t%.2f").mkString(",")}" +
        f"  B=${bv.map(t => f"$t%.2f").mkString(",")}")
    }
    spark.stop()
  }
}
