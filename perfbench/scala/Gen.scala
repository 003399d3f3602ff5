package perfbench

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded inputs. Every generated value is a hash of (row id, seed,
  * column salt), so the same seed writes the same files on any
  * partitioning; driver-side choices come from `scala.util.Random(seed)`.
  */
final class Gen(spark: SparkSession, val seed: Long) {

  private def h(salt: Int): Column = xxhash64(col("id"), lit(seed), lit(salt))
  /** Uniform integer in [0, n). */
  def u(salt: Int, n: Long): Column = pmod(h(salt), lit(n))

  def rng(stream: Long): scala.util.Random =
    new scala.util.Random(seed * 1000003L + stream)

  /** A seeded vocabulary of pronounceable six-letter words (comments
    * and corpus); one length for every seed keeps file sizes alike.
    */
  def vocab(n: Int, stream: Long): IndexedSeq[String] = {
    val r = rng(stream)
    val cons = "bcdfghjklmnprstvwz"; val vow = "aeiou"
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < n) {
      seen += (0 until 3).map(_ =>
        s"${cons(r.nextInt(cons.length))}${vow(r.nextInt(vow.length))}").mkString
    }
    seen.toIndexedSeq
  }

  private def pick(words: Seq[String], idx: Column): Column =
    element_at(typedLit(words), (idx + 1).cast("int"))

  /** Write `df` as ONE parquet file at `path` (not a directory): the
    * visualizer opens single files and reads their footer directly.
    */
  def writeSingleFile(df: DataFrame, path: String): Unit = {
    val tmp = path + ".tmp"
    // repartition, not coalesce: the generating stage stays parallel and
    // only the writer is single
    df.repartition(1).write.mode("overwrite").parquet(tmp)
    val fs = new Path(tmp).getFileSystem(spark.sessionState.newHadoopConf())
    val part = fs.listStatus(new Path(tmp)).map(_.getPath)
      .find(_.getName.endsWith(".parquet")).get
    fs.delete(new Path(path), true)
    require(fs.rename(part, new Path(path)), s"cannot place $path")
    fs.delete(new Path(tmp), true)
  }

  val shipModes: Seq[String] = Seq("AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK")

  /** A TPC-H-shaped `lineitem` (the columns of the sf0.1 test table plus
    * ship mode and a short comment, which give free-text search
    * something to find).
    */
  def lineitem(rows: Long, words: Seq[String]): DataFrame =
    spark.range(0, rows, 1, 4).select(
      (col("id").divide(4).cast("long") + 1).as("l_orderkey"),
      (u(1, 20000) + 1).as("l_partkey"),
      (u(2, 1000) + 1).as("l_suppkey"),
      (pmod(col("id"), lit(4)) + 1).cast("int").as("l_linenumber"),
      (u(3, 50) + 1).cast("double").as("l_quantity"),
      ((u(4, 9000000) + 90000) / 100.0).as("l_extendedprice"),
      (u(5, 11) / 100.0).as("l_discount"),
      (u(6, 9) / 100.0).as("l_tax"),
      pick(Seq("A", "N", "R"), u(7, 3)).as("l_returnflag"),
      pick(Seq("F", "O"), u(8, 2)).as("l_linestatus"),
      timestamp_seconds(lit(694224000L) + u(9, 2526) * 86400).as("l_shipdate"),
      pick(shipModes, u(10, shipModes.length)).as("l_shipmode"),
      concat_ws(" ", (0 until 4).map(i => pick(words, u(11 + i, words.length))): _*)
        .as("l_comment"))

  /** Sparse order keys (every 4th integer), so inserts can land between
    * existing keys.
    */
  def orderKey(id: Column): Column = id * 4 + 1

  /** A TPC-H-shaped `orders` base table plus the upsert version column. */
  def orders(rows: Long): DataFrame =
    spark.range(0, rows, 1, 4).select(
      orderKey(col("id")).as("o_orderkey"),
      (u(21, 15000) + 1).as("o_custkey"),
      pick(Seq("F", "O", "P"), u(22, 3)).as("o_orderstatus"),
      ((u(23, 50000000) + 90000) / 100.0).as("o_totalprice"),
      timestamp_seconds(lit(694224000L) + u(24, 2400) * 86400).as("o_orderdate"),
      pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"),
        u(25, 5)).as("o_orderpriority"),
      lit(0L).as("commit_v"))

  /** Content hash of an `orders`-shaped row, low 32 bits so sums of a
    * few million rows never overflow a long.
    */
  def ordersRowHash: Column =
    xxhash64(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"),
      col("commit_v")).bitwiseAND(lit(0xFFFFFFFFL))
}
