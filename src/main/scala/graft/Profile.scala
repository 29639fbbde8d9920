package graft

import org.apache.spark.sql.SparkSession

/** Ad-hoc per-query profiler: times each named query (or all, several
  * repetitions) against a scale dir — the measure-don't-guess loop for
  * Bench hot spots. Usage: runMain graft.Profile <sfDir> <n> [names...] */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = if (args.length > 1) args(1).toInt else 2
    val names = if (args.length > 2) args.drop(2).toSeq else SparkEntry.queries.keys.toSeq
    val cpus = Bench.parseCpus(sys.env.get("SPARK_GRAFT_CPUS"), 32)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Tables.names.foreach(t => Tables(spark, sfDir, t).cache().count())
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[profile] $name%-25s ${times.map(t => f"$t%6.2f").mkString(" ")}")
    }
    spark.stop()
  }
}
