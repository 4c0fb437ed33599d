package graft
import org.apache.spark.sql.SparkSession
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    // Its own builder, not Tables.session: this smoke test exists to run
    // the entry point WITHOUT the graft extensions registered.
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    println("[smoke] entry rows=" + SparkEntry.entry(spark).count())
    spark.stop()
  }
}
