package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** RetailRocket-shaped inputs (FIXTURES.md §1) for the `rr-pipeline`
  * workload, with BaselineBench's distributions: power-law users and
  * items, 94.1% views / 2.4% add-to-carts / 3.5% transactions, events
  * skewed towards the start of May–Aug 2015, one category per item.
  *
  * Every draw is a pure function of (seed, row id), so the rows do not
  * depend on the partition or core count. (`rand(k)` draws per
  * partition: BaselineBench's own data changes with the core count.)
  */
object RrData {

  /** Row counts in BaselineBench's proportions (1.9M events : 500k
    * users : 230k items, 1k categories).
    */
  final case class Scale(events: Long) {
    val users: Long = math.max(1L, events * 500000L / 1900000L)
    val items: Long = math.max(1L, events * 230000L / 1900000L)
    val categories: Long = 1000L
  }

  private val WinStartMs = 1430438400000L // 2015-05-01
  private val WinMs = 92L * 86400 * 1000 // through 2015-08-01

  /** Files per CSV; fixed so the written files do not depend on the host. */
  val Partitions = 8

  /** A uniform draw in [0, 1): the top 53 bits of xxhash64(id, seed, stream). */
  def uniform(id: Column, seed: Long, stream: Int): Column =
    shiftrightunsigned(xxhash64(id, lit(seed), lit(stream)), 11).cast("double") /
      lit(9007199254740992.0)

  /** events.csv rows. */
  def events(spark: SparkSession, scale: Scale, seed: Long, partitions: Int): DataFrame = {
    val id = col("id")
    val kind = uniform(id, seed, 3)
    spark.range(0L, scale.events, 1L, partitions).select(
      (lit(WinStartMs) + (pow(uniform(id, seed, 1), 1.15) * WinMs).cast("long")).as("timestamp"),
      (pow(uniform(id, seed, 2), 2.0) * scale.users).cast("long").as("visitorid"),
      when(kind < 0.941, "view").when(kind < 0.965, "addtocart").otherwise("transaction")
        .as("event"),
      (pow(uniform(id, seed, 4), 3.0) * scale.items).cast("long").as("itemid"),
      lit(null).cast("long").as("transactionid"))
  }

  /** item_properties rows: one `categoryid` snapshot per item plus as
    * many non-category properties, which the pipeline must filter out.
    */
  def props(spark: SparkSession, scale: Scale, seed: Long, partitions: Int): DataFrame = {
    val id = col("id")
    val isCat = id < scale.items
    spark.range(0L, scale.items * 2, 1L, partitions).select(
      (lit(WinStartMs) - 86400000L + (id % 7) * 3600000L).as("timestamp"),
      (id % scale.items).as("itemid"),
      when(isCat, "categoryid").otherwise("available").as("property"),
      when(isCat, (uniform(id, seed, 5) * scale.categories).cast("long").cast("string"))
        .otherwise("1").as("value"))
  }

  /** Writes events.csv to `ev` and item_properties to `pr`, as CSV
    * directories with a header line.
    */
  def write(spark: SparkSession, scale: Scale, seed: Long, ev: String, pr: String): Unit = {
    events(spark, scale, seed, Partitions).write.mode("overwrite").option("header", "true").csv(ev)
    props(spark, scale, seed, Partitions).write.mode("overwrite").option("header", "true").csv(pr)
  }
}
