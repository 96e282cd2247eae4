package graft
import org.apache.spark.sql.SparkSession
/** Dev tool: time ONE registered query at one or more SF dirs (2 trials
  * each, same session config as Bench). Usage:
  *   sbt "runMain graft.TimeQ <query> <sfdir> [sfdir...]"
  * For cross-SF scaling spot-checks (SCALING.md) without a full bench run.
  */
object TimeQ {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    for (dir <- args.tail; trial <- 1 to 2) {
      val t0 = System.nanoTime()
      // same full-column consumption as Bench (count() would let Catalyst
      // prune the value expressions and under-measure)
      val n = Bench.consumeAll(SparkEntry.queries(args(0))(spark, dir))
      println(f"${args(0)} $dir trial$trial: ${(System.nanoTime()-t0)/1e9}%.2f s, $n rows")
    }
    spark.stop()
  }
}
