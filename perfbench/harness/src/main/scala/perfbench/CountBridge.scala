package perfbench

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Bridge between `graft.Bench`'s series and this benchmark: times the
  * curation queries under `count()` (what graft.Bench times) and under
  * full output (`collect`, what curation_mix times) in one session, on one
  * input directory, min of `reps` after a warm-up pass.
  *
  * {{{ CountBridge <data dir> [reps] }}} */
object CountBridge {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val reps = args.lift(1).map(_.toInt).getOrElse(2)
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def time(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    val q = (name: String) => SparkEntry.queries(name)(spark, dir)
    val queries = new CurationMix("").queries
    queries.foreach(n => q(n).collect())
    val rows = queries.map { n =>
      val count = (1 to reps).map(_ => time(q(n).count())).min
      val full = (1 to reps).map(_ => time(q(n).collect())).min
      println(f"$n%-28s count=$count%.3f s  full=$full%.3f s")
      (count, full)
    }
    println(f"total count=${rows.map(_._1).sum}%.3f s  full=${rows.map(_._2).sum}%.3f s")
    spark.stop()
  }
}
