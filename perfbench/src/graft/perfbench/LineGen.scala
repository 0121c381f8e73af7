package graft.perfbench

import java.sql.Timestamp

import org.apache.spark.sql.types._

/** One lineitem-shaped row; (l_orderkey, l_linenumber) is the key. */
final case class LineRow(l_orderkey: Long, l_partkey: Long, l_suppkey: Long,
    l_linenumber: Int, l_quantity: Double, l_extendedprice: Double,
    l_discount: Double, l_tax: Double, l_returnflag: String,
    l_linestatus: String, l_shipdate: Timestamp) {
  def key: (Long, Int) = (l_orderkey, l_linenumber)
}

/** Seeded lineitem generator. Row `i` of stream `stream` is a pure
  * function of (seed, stream, i), so Spark tasks and the bench's own
  * model produce the same rows without shipping them around. Four lines
  * per order, like TPC-H's average; values are exact in binary (cents
  * and whole quantities), so equality checks need no tolerance.
  */
object LineGen {
  val schema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType, nullable = false),
    StructField("l_partkey", LongType, nullable = false),
    StructField("l_suppkey", LongType, nullable = false),
    StructField("l_linenumber", IntegerType, nullable = false),
    StructField("l_quantity", DoubleType, nullable = false),
    StructField("l_extendedprice", DoubleType, nullable = false),
    StructField("l_discount", DoubleType, nullable = false),
    StructField("l_tax", DoubleType, nullable = false),
    StructField("l_returnflag", StringType),
    StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampType)))
  val KeyCols: Seq[String] = Seq("l_orderkey", "l_linenumber")
  val LinesPerOrder = 4
  /** 1992-01-01 .. 1998-12-01, the TPC-H ship-date span. */
  val ShipStartMs = 694224000000L
  val ShipDays = 2526
  val DayMs = 86400000L
  val Parts = 20000L

  private def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private def draw(seed: Long, stream: Long, i: Long, field: Int, n: Long): Long =
    java.lang.Math.floorMod(mix(mix(mix(seed) ^ stream) ^ i) + field * 0x632BE59BD9B4E019L, n)

  /** Row `i` of `stream`, with order keys starting at `keyBase`. */
  def row(seed: Long, stream: Long, keyBase: Long, i: Long,
      version: Int = 0): LineRow = {
    def d(f: Int, n: Long) = draw(seed, stream, i, f + 16 * version, n)
    val qty = (1 + d(1, 50)).toDouble
    val price = (90000 + d(2, 10000000)) / 100.0
    LineRow(keyBase + i / LinesPerOrder, 1 + d(3, Parts), 1 + d(4, 1000),
      (i % LinesPerOrder).toInt + 1, qty, price, d(5, 11) / 100.0,
      d(6, 9) / 100.0, Seq("A", "N", "R")(d(7, 3).toInt),
      Seq("F", "O")(d(8, 2).toInt),
      new Timestamp(ShipStartMs + d(9, ShipDays) * DayMs))
  }

  /** The row with the same key as `r` and fresh values (a merge update). */
  def updated(seed: Long, r: LineRow, version: Int): LineRow = {
    def d(f: Int, n: Long) =
      draw(seed, r.l_orderkey, r.l_linenumber, f + 16 * version, n)
    r.copy(l_quantity = (1 + d(1, 50)).toDouble,
      l_extendedprice = (90000 + d(2, 10000000)) / 100.0,
      l_linestatus = Seq("F", "O")(d(8, 2).toInt))
  }

  def toRow(r: LineRow): org.apache.spark.sql.Row =
    org.apache.spark.sql.Row(r.l_orderkey, r.l_partkey, r.l_suppkey,
      r.l_linenumber, r.l_quantity, r.l_extendedprice, r.l_discount, r.l_tax,
      r.l_returnflag, r.l_linestatus, r.l_shipdate)
  def fromRow(x: org.apache.spark.sql.Row): LineRow =
    LineRow(x.getLong(0), x.getLong(1), x.getLong(2), x.getInt(3),
      x.getDouble(4), x.getDouble(5), x.getDouble(6), x.getDouble(7),
      x.getString(8), x.getString(9), x.getTimestamp(10))
}
