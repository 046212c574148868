package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession, functions => F}

/** Seeded input generators. Every value is a function of (seed, row id,
  * column), so the same seed gives the same tables whatever the
  * partitioning, and the checkers can recompute what the engine saw.
  */
final case class Gen(seed: Long, tiny: Boolean) {
  /** TPC-H-shaped scale: sf 1 would be 6M lineitem rows. */
  def sf(full: Double): Double = if (tiny) 0.001 else full

  /** A fresh stream for `purpose`, independent of every other one. */
  def rng(purpose: String): java.util.SplittableRandom =
    new java.util.SplittableRandom(seed * 1000003L ^ purpose.hashCode.toLong)

  private def h(salt: Int, c: Column): Column =
    F.xxhash64(F.lit(seed), c, F.lit(salt))
  /** Uniform in [0, n) from row key `c`. */
  private def u(salt: Int, n: Long, c: Column = F.col("id")): Column =
    F.pmod(h(salt, c), F.lit(n))
  private def pick(salt: Int, xs: Seq[String], c: Column = F.col("id")): Column =
    F.element_at(F.array(xs.map(F.lit): _*), (u(salt, xs.length, c) + 1).cast("int"))
  private val day0 = F.to_date(F.lit("1992-01-01"))
  private def cents(c: Column): Column = c.cast("double") / 100.0

  val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  val nations = Seq(
    "ALGERIA" -> 0, "ARGENTINA" -> 1, "BRAZIL" -> 1, "CANADA" -> 1,
    "EGYPT" -> 4, "ETHIOPIA" -> 0, "FRANCE" -> 3, "GERMANY" -> 3,
    "INDIA" -> 2, "INDONESIA" -> 2, "IRAN" -> 4, "IRAQ" -> 4, "JAPAN" -> 2,
    "JORDAN" -> 4, "KENYA" -> 0, "MOROCCO" -> 0, "MOZAMBIQUE" -> 0,
    "PERU" -> 1, "CHINA" -> 2, "ROMANIA" -> 3, "SAUDI ARABIA" -> 4,
    "VIETNAM" -> 2, "RUSSIA" -> 3, "UNITED KINGDOM" -> 3,
    "UNITED STATES" -> 1)
  val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
    "MACHINERY")
  val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
    "5-LOW")
  val shipModes = Seq("AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK")
  val typeA = Seq("STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO")
  val typeB = Seq("ANODIZED", "BURNISHED", "PLATED", "POLISHED", "BRUSHED")
  val typeC = Seq("TIN", "NICKEL", "BRASS", "STEEL", "COPPER")
  /** Dates run from 1992-01-01 over this many days. */
  val orderDays = 2405

  final case class Sizes(customers: Long, suppliers: Long, parts: Long,
                         orders: Long) {
    def lineitems: Long = orders * 4
  }
  def sizes(scale: Double): Sizes = Sizes(
    math.max((150000 * scale).toLong, 50), math.max((10000 * scale).toLong, 10),
    math.max((200000 * scale).toLong, 50), math.max((1500000 * scale).toLong, 200))

  /** Writes the eight-table TPC-H-shaped schema as `<dir>/<name>.parquet`. */
  def tpch(spark: SparkSession, dir: String, scale: Double): Sizes = {
    import spark.implicits._
    val z = sizes(scale)
    def save(name: String, df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$dir/$name.parquet")
    save("region", regions.zipWithIndex.map { case (n, i) => (i, n) }
      .toDF("r_regionkey", "r_name").coalesce(1))
    save("nation", nations.zipWithIndex.map { case ((n, r), i) => (i, n, r) }
      .toDF("n_nationkey", "n_name", "n_regionkey").coalesce(1))
    val id = F.col("id")
    save("customer", spark.range(z.customers).select(
      (id + 1).as("c_custkey"),
      F.concat(F.lit("Customer#"), F.lpad((id + 1).cast("string"), 9, "0"))
        .as("c_name"),
      u(1, 25).cast("int").as("c_nationkey"),
      cents(u(2, 1099999) - 99999).as("c_acctbal"),
      pick(3, segments).as("c_mktsegment")))
    save("supplier", spark.range(z.suppliers).select(
      (id + 1).as("s_suppkey"),
      F.concat(F.lit("Supplier#"), F.lpad((id + 1).cast("string"), 9, "0"))
        .as("s_name"),
      u(11, 25).cast("int").as("s_nationkey"),
      cents(u(12, 1099999) - 99999).as("s_acctbal")))
    save("part", spark.range(z.parts).select(
      (id + 1).as("p_partkey"),
      F.concat(F.lit("Brand#"), u(21, 5) + 1, u(22, 5) + 1).as("p_brand"),
      F.concat_ws(" ", pick(23, typeA), pick(24, typeB), pick(25, typeC))
        .as("p_type"),
      (u(26, 50) + 1).cast("int").as("p_size"),
      cents(u(27, 110000) + 90000).as("p_retailprice")))
    val okey = id + 1
    save("orders", spark.range(z.orders).select(
      okey.as("o_orderkey"),
      (u(31, z.customers) + 1).as("o_custkey"),
      pick(32, Seq("F", "O", "P")).as("o_orderstatus"),
      cents(u(33, 50000000) + 85000).as("o_totalprice"),
      F.date_add(day0, u(34, orderDays, okey).cast("int")).as("o_orderdate"),
      pick(35, priorities).as("o_orderpriority"),
      F.lit(0).as("o_shippriority")))
    val lkey = F.floor(id / 4) + 1
    val odate = F.date_add(day0, u(34, orderDays, lkey).cast("int"))
    val ship = F.date_add(odate, (u(41, 121) + 1).cast("int"))
    val receipt = F.date_add(ship, (u(42, 30) + 1).cast("int"))
    val cutoff = F.to_date(F.lit("1995-06-17"))
    val qty = (u(43, 50) + 1).cast("double")
    save("lineitem", spark.range(z.lineitems).select(
      lkey.cast("long").as("l_orderkey"),
      (u(44, z.parts) + 1).as("l_partkey"),
      (u(45, z.suppliers) + 1).as("l_suppkey"),
      (F.pmod(id, F.lit(4L)) + 1).cast("int").as("l_linenumber"),
      qty.as("l_quantity"),
      (qty * cents(u(46, 110000) + 90000)).as("l_extendedprice"),
      cents(u(47, 11)).as("l_discount"),
      cents(u(48, 9)).as("l_tax"),
      F.when(receipt <= cutoff, pick(49, Seq("R", "A"))).otherwise(F.lit("N"))
        .as("l_returnflag"),
      F.when(ship > cutoff, F.lit("O")).otherwise(F.lit("F")).as("l_linestatus"),
      ship.as("l_shipdate"),
      F.date_add(odate, (u(50, 61) + 30).cast("int")).as("l_commitdate"),
      receipt.as("l_receiptdate"),
      pick(51, shipModes).as("l_shipmode")))
    z
  }
}
