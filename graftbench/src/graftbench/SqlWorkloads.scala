package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, Row, SparkSession, functions => F}
import org.apache.spark.sql.functions.col

import graft.dsl.{NamedCol, PTable, Sort}
import graft.sources.Tables

/** A query template: `params` draws seeded constants and `sql` is the
  * same query in DuckDB's dialect, which checks the engine's rows after
  * the run.
  */
final case class Template(name: String, params: java.util.SplittableRandom => Seq[Any],
                          sql: Seq[Any] => String, ordered: Boolean)

/** Workloads of read-only queries over the TPC-H-shaped tables. Each
  * round runs every template once, in a seeded order, with fresh
  * constants; every result is kept for the DuckDB check.
  */
abstract class SqlWorkload(spark: SparkSession, gen: Gen, scale: Double)
    extends Workload {
  def templates: Seq[Template]
  /** Runs `t` with `ps` on the engine, returning the collected rows. */
  def execute(t: Template, ps: Seq[Any]): Array[Row]
  /** Binds the freshly built tables (called once per set-up). */
  def bind(dir: String): Unit

  protected var dir = ""
  override def tablesDir: String = dir
  private val rng = gen.rng(s"ops-${getClass.getSimpleName}")
  private var round = Vector.empty[Template]
  private val checks = mutable.ArrayBuffer.empty[SqlCheck]
  protected val seenTemplates = mutable.Set.empty[String]
  protected val seenTexts = mutable.Set.empty[String]
  protected var timed = 0
  protected var templateSeen = 0
  protected var textSeen = 0

  def cycle: Int = templates.length

  def build(d: String): Unit = {
    dir = s"$d/tables"
    gen.tpch(spark, dir, scale)
    bind(dir)
  }

  /** Two passes: after one, the JIT is still speeding operations up. */
  def warmUp(): Unit = {
    val warm = gen.rng("warmup")
    (templates ++ templates).foreach { t =>
      val ps = t.params(warm)
      seenTemplates += t.name; seenTexts += s"${t.name}:$ps"
      execute(t, ps)
    }
  }

  def next(i: Int): Op = {
    if (round.isEmpty) {
      val order = templates.toArray
      for (j <- order.indices.reverse) {
        val k = rng.nextInt(j + 1); val x = order(j); order(j) = order(k); order(k) = x
      }
      round = order.toVector
    }
    val t = round.head
    round = round.tail
    val ps = t.params(rng)
    Op(t.name, OpClass.Read, () => {
      val key = s"${t.name}:$ps"
      timed += 1
      if (seenTemplates(t.name)) templateSeen += 1
      if (seenTexts(key)) textSeen += 1
      seenTemplates += t.name; seenTexts += key
      val rows = execute(t, ps)
      checks += SqlCheck(i, t.sql(ps), t.ordered, rows.toSeq.map(_.toSeq))
    })
  }

  def check(): Seq[(Int, String)] = Nil
  override def sqlChecks: Seq[SqlCheck] = checks.toSeq
  override def extra(ops: Seq[OpRec]): Map[String, Double] = Map(
    "lang.template_seen_share" -> (if (timed == 0) 0.0 else templateSeen.toDouble / timed),
    "lang.text_seen_share" -> (if (timed == 0) 0.0 else textSeen.toDouble / timed))

  protected def int(r: java.util.SplittableRandom, lo: Int, hi: Int): Int =
    lo + r.nextInt(hi - lo)
}

/** Short Preql programs through one persistent `Interp.Session`: the
  * front end and Catalyst own most of each operation.
  */
final class LangWorkload(spark: SparkSession, gen: Gen)
    extends SqlWorkload(spark, gen, gen.sf(0.05)) {
  def cycleSeconds: Double = 2.4
  private val z = gen.sizes(gen.sf(0.05))
  private var session: graft.lang.Interp.Session = _
  private val names = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem")

  def bind(d: String): Unit = {
    val tables = names.map(n => n -> Trace.span("sources.load")(Tables.load(spark, d, n)))
    session = new graft.lang.Interp.Session(spark, tables: _*)
  }

  private def pick(r: java.util.SplittableRandom, xs: Seq[String]) = xs(r.nextInt(xs.length))

  /** Preql text of each template, keyed by name. */
  private val programs: Map[String, Seq[Any] => String] = Map(
    "sel_proj" -> (p => s"customer[c_nationkey == ${p(0)}, c_acctbal > ${p(1)}] order {c_custkey} [..20] {c_custkey, c_name, c_acctbal}"),
    "join_group" -> (p => s"join(c: customer, n: nation)[c.c_mktsegment == '${p(0)}']{nation: n.n_name => customers: count()} order {^customers, nation}"),
    "group_agg" -> (p => s"orders[o_orderpriority == '${p(0)}']{o_orderstatus => n: count(), total: sum(o_totalprice)} order {o_orderstatus}"),
    "order_slice" -> (p => s"orders[o_custkey == ${p(0)}] order {^o_totalprice, o_orderkey} [..5] {o_orderkey, o_totalprice}"),
    "one_scalar" -> (p => s"one orders[o_orderkey == ${p(0)}]{o_totalprice}"),
    "point_lookup" -> (p => s"orders[o_orderkey == ${p(0)}]{o_orderkey, o_custkey, o_orderstatus, o_totalprice}"),
    "range_agg" -> (p => s"lineitem[l_orderkey >= ${p(0)}, l_orderkey < ${p(1)}]{l_returnflag => qty: sum(l_quantity), n: count()} order {l_returnflag}"),
    "join3" -> (p => s"join(o: orders, c: customer, n: nation)[o.o_orderkey < ${p(0)}]{nation: n.n_name => revenue: sum(o.o_totalprice)} order {^revenue} [..5]"),
    "supp_count" -> (p => s"supplier[s_acctbal > ${p(0)}]{s_nationkey => n: count()} order {s_nationkey}"),
    "script" -> (p => s"big = orders[o_totalprice > ${p(0)}]\ncustomer[c_custkey in big{o_custkey}] order {c_custkey} [..20] {c_custkey, c_name}"),
    "func" -> (p => s"func net(p, d) = p * (1 - d)\nlineitem[l_orderkey == ${p(0)}]{l_linenumber, v: net(l_extendedprice, l_discount)} order {l_linenumber}"),
    "part_filter" -> (p => s"part[p_size == ${p(0)}, p_brand == '${p(1)}'] order {p_partkey} [..10] {p_partkey, p_retailprice}"),
    "mode_status" -> (p => s"lineitem[l_shipmode == '${p(0)}', l_orderkey < ${p(1)}]{l_linestatus => n: count()} order {l_linestatus}"))

  val templates: Seq[Template] = Seq(
    Template("sel_proj", r => Seq(int(r, 0, 25), int(r, -999, 9000)),
      p => s"select c_custkey, c_name, c_acctbal from customer where c_nationkey = ${p(0)} and c_acctbal > ${p(1)} order by c_custkey limit 20", true),
    Template("join_group", r => Seq(pick(r, gen.segments)),
      p => s"select n_name, count(*) as customers from customer join nation on c_nationkey = n_nationkey where c_mktsegment = '${p(0)}' group by n_name order by customers desc, n_name", true),
    Template("group_agg", r => Seq(pick(r, gen.priorities)),
      p => s"select o_orderstatus, count(*), sum(o_totalprice) from orders where o_orderpriority = '${p(0)}' group by o_orderstatus order by o_orderstatus", true),
    Template("order_slice", r => Seq(1 + r.nextLong(z.customers)),
      p => s"select o_orderkey, o_totalprice from orders where o_custkey = ${p(0)} order by o_totalprice desc, o_orderkey limit 5", true),
    Template("one_scalar", r => Seq(1 + r.nextLong(z.orders)),
      p => s"select o_totalprice from orders where o_orderkey = ${p(0)}", true),
    Template("point_lookup", r => Seq(1 + r.nextLong(z.orders)),
      p => s"select o_orderkey, o_custkey, o_orderstatus, o_totalprice from orders where o_orderkey = ${p(0)}", true),
    Template("range_agg", r => { val a = 1 + r.nextLong(z.orders); Seq(a, a + 500) },
      p => s"select l_returnflag, sum(l_quantity), count(*) from lineitem where l_orderkey >= ${p(0)} and l_orderkey < ${p(1)} group by l_returnflag order by l_returnflag", true),
    Template("join3", r => Seq(1 + r.nextLong(z.orders)),
      p => s"select n_name, sum(o_totalprice) as revenue from orders join customer on o_custkey = c_custkey join nation on c_nationkey = n_nationkey where o_orderkey < ${p(0)} group by n_name order by revenue desc limit 5", true),
    Template("supp_count", r => Seq(int(r, -999, 9000)),
      p => s"select s_nationkey, count(*) from supplier where s_acctbal > ${p(0)} group by s_nationkey order by s_nationkey", true),
    Template("script", r => Seq(int(r, 100000, 500000)),
      p => s"select c_custkey, c_name from customer where c_custkey in (select o_custkey from orders where o_totalprice > ${p(0)}) order by c_custkey limit 20", true),
    Template("func", r => Seq(1 + r.nextLong(z.orders)),
      p => s"select l_linenumber, l_extendedprice * (1 - l_discount) from lineitem where l_orderkey = ${p(0)} order by l_linenumber", true),
    Template("part_filter", r => Seq(int(r, 1, 51), s"Brand#${int(r, 1, 6)}${int(r, 1, 6)}"),
      p => s"select p_partkey, p_retailprice from part where p_size = ${p(0)} and p_brand = '${p(1)}' order by p_partkey limit 10", true),
    Template("mode_status", r => Seq(pick(r, gen.shipModes), 1 + r.nextLong(z.orders)),
      p => s"select l_linestatus, count(*) from lineitem where l_shipmode = '${p(0)}' and l_orderkey < ${p(1)} group by l_linestatus order by l_linestatus", true))

  def execute(t: Template, ps: Seq[Any]): Array[Row] = {
    val src = programs(t.name)(ps)
    if (Trace.on) Trace.span("lang.parse")(graft.lang.Parser.parse(src))
    val out = Trace.span("lang.run")(session.run(src))
    out.df.collect()
  }
}

/** TPC-H-shaped queries composed with `Tables.load` and `PTable`: scans,
  * shuffles and joins own most of each operation.
  */
final class OlapWorkload(spark: SparkSession, gen: Gen)
    extends SqlWorkload(spark, gen, gen.sf(0.05)) {
  def cycleSeconds: Double = 5.0
  def bind(d: String): Unit = ()
  private def load(n: String): PTable = Trace.span("sources.load")(Tables.load(spark, dir, n))
  private def day(r: java.util.SplittableRandom, lo: Int, hi: Int): String =
    java.time.LocalDate.of(1992, 1, 1).plusDays(int(r, lo, hi).toLong).toString
  private def d(s: Any): Column = F.to_date(F.lit(s.toString))
  private def pick(r: java.util.SplittableRandom, xs: Seq[String]) = xs(r.nextInt(xs.length))
  private def nc(n: String, c: Column) = NamedCol(n, c)
  private val rev = col("l_extendedprice") * (F.lit(1) - col("l_discount"))

  val templates: Seq[Template] = Seq(
    Template("pricing_summary", r => Seq(int(r, 60, 121)),
      p => s"select l_returnflag, l_linestatus, sum(l_quantity), sum(l_extendedprice), sum(l_extendedprice * (1 - l_discount)), sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), avg(l_quantity), avg(l_extendedprice), avg(l_discount), count(*) from lineitem where l_shipdate <= date '1998-12-01' - interval ${p(0)} day group by 1, 2 order by 1, 2", true),
    Template("shipping_priority", r => Seq(pick(r, gen.segments), day(r, 1000, 1300)),
      p => s"select l_orderkey, sum(l_extendedprice * (1 - l_discount)) as revenue, o_orderdate, o_shippriority from customer join orders on c_custkey = o_custkey join lineitem on l_orderkey = o_orderkey where c_mktsegment = '${p(0)}' and o_orderdate < date '${p(1)}' and l_shipdate > date '${p(1)}' group by l_orderkey, o_orderdate, o_shippriority order by revenue desc, o_orderdate, l_orderkey limit 10", true),
    Template("order_priority", r => Seq(day(r, 0, 2200)),
      p => s"select o_orderpriority, count(*) from orders where o_orderdate >= date '${p(0)}' and o_orderdate < date '${p(0)}' + interval 3 month and exists (select 1 from lineitem where l_orderkey = o_orderkey and l_commitdate < l_receiptdate) group by 1 order by 1", true),
    Template("local_volume", r => Seq(pick(r, gen.regions), 1993 + r.nextInt(5)),
      p => s"select n_name, sum(l_extendedprice * (1 - l_discount)) as revenue from customer join orders on c_custkey = o_custkey join lineitem on l_orderkey = o_orderkey join supplier on l_suppkey = s_suppkey join nation on s_nationkey = n_nationkey join region on n_regionkey = r_regionkey where c_nationkey = s_nationkey and r_name = '${p(0)}' and o_orderdate >= date '${p(1)}-01-01' and o_orderdate < date '${p(1)}-01-01' + interval 1 year group by n_name order by revenue desc, n_name", true),
    Template("forecast_revenue", r => Seq(1993 + r.nextInt(5), 2 + r.nextInt(8), 24 + r.nextInt(2)),
      p => s"select sum(l_extendedprice * l_discount) from lineitem where l_shipdate >= date '${p(0)}-01-01' and l_shipdate < date '${p(0)}-01-01' + interval 1 year and l_discount between ${p(1)} / 100.0 - 0.01 and ${p(1)} / 100.0 + 0.01 and l_quantity < ${p(2)}", true),
    Template("volume_shipping", r => { val a = r.nextInt(25); Seq(a, (a + 1 + r.nextInt(24)) % 25) },
      p => s"select n1.n_name, n2.n_name, year(l_shipdate) as y, sum(l_extendedprice * (1 - l_discount)) from supplier join lineitem on s_suppkey = l_suppkey join orders on o_orderkey = l_orderkey join customer on c_custkey = o_custkey join nation n1 on s_nationkey = n1.n_nationkey join nation n2 on c_nationkey = n2.n_nationkey where ((n1.n_nationkey = ${p(0)} and n2.n_nationkey = ${p(1)}) or (n1.n_nationkey = ${p(1)} and n2.n_nationkey = ${p(0)})) and l_shipdate between date '1995-01-01' and date '1996-12-31' group by 1, 2, 3 order by 1, 2, 3", true),
    Template("market_share", r => Seq(r.nextInt(25), pick(r, gen.regions), s"${pick(r, gen.typeA)} ${pick(r, gen.typeB)} ${pick(r, gen.typeC)}"),
      p => s"select year(o_orderdate) as y, sum(case when s_nationkey = ${p(0)} then l_extendedprice * (1 - l_discount) else 0 end) / sum(l_extendedprice * (1 - l_discount)) from part join lineitem on p_partkey = l_partkey join supplier on s_suppkey = l_suppkey join orders on l_orderkey = o_orderkey join customer on o_custkey = c_custkey join nation on c_nationkey = n_nationkey join region on n_regionkey = r_regionkey where r_name = '${p(1)}' and o_orderdate between date '1995-01-01' and date '1996-12-31' and p_type = '${p(2)}' group by 1 order by 1", true),
    Template("returned_items", r => Seq(day(r, 0, 2200)),
      p => s"select c_custkey, c_name, sum(l_extendedprice * (1 - l_discount)) as revenue, n_name from customer join orders on c_custkey = o_custkey join lineitem on l_orderkey = o_orderkey join nation on c_nationkey = n_nationkey where o_orderdate >= date '${p(0)}' and o_orderdate < date '${p(0)}' + interval 3 month and l_returnflag = 'R' group by c_custkey, c_name, n_name order by revenue desc, c_custkey limit 20", true),
    Template("shipping_modes", r => { val a = r.nextInt(7); Seq(gen.shipModes(a), gen.shipModes((a + 1 + r.nextInt(6)) % 7), 1993 + r.nextInt(5)) },
      p => s"select l_shipmode, sum(case when o_orderpriority in ('1-URGENT', '2-HIGH') then 1 else 0 end), sum(case when o_orderpriority not in ('1-URGENT', '2-HIGH') then 1 else 0 end) from orders join lineitem on o_orderkey = l_orderkey where l_shipmode in ('${p(0)}', '${p(1)}') and l_commitdate < l_receiptdate and l_shipdate < l_commitdate and l_receiptdate >= date '${p(2)}-01-01' and l_receiptdate < date '${p(2)}-01-01' + interval 1 year group by 1 order by 1", true),
    Template("promotion_effect", r => Seq(day(r, 0, 2300)),
      p => s"select 100.0 * sum(case when p_type like 'PROMO%' then l_extendedprice * (1 - l_discount) else 0 end) / sum(l_extendedprice * (1 - l_discount)) from lineitem join part on l_partkey = p_partkey where l_shipdate >= date '${p(0)}' and l_shipdate < date '${p(0)}' + interval 1 month", true))

  private def build(name: String, p: Seq[Any]): PTable = name match {
    case "pricing_summary" =>
      val li = load("lineitem")
      val disc = rev
      li.where(col("l_shipdate") <= F.date_sub(d("1998-12-01"), p(0).asInstanceOf[Int]))
        .groupBy(nc("l_returnflag", col("l_returnflag")), nc("l_linestatus", col("l_linestatus")))(
          nc("sum_qty", F.sum("l_quantity")), nc("sum_base", F.sum("l_extendedprice")),
          nc("sum_disc", F.sum(disc)), nc("sum_charge", F.sum(disc * (F.lit(1) + col("l_tax")))),
          nc("avg_qty", F.avg("l_quantity")), nc("avg_price", F.avg("l_extendedprice")),
          nc("avg_disc", F.avg("l_discount")), nc("n", F.count(F.lit(1))))
        .orderBy(Sort(col("l_returnflag")), Sort(col("l_linestatus")))
    case "shipping_priority" =>
      val c = load("customer").where(col("c_mktsegment") === p(0).toString)
      val o = load("orders").where(col("o_orderdate") < d(p(1)))
      val l = load("lineitem").where(col("l_shipdate") > d(p(1)))
      PTable(c.df.join(o.df, col("c_custkey") === col("o_custkey"))
          .join(l.df, col("l_orderkey") === col("o_orderkey")))
        .groupBy(nc("l_orderkey", col("l_orderkey")), nc("o_orderdate", col("o_orderdate")),
          nc("o_shippriority", col("o_shippriority")))(nc("revenue", F.sum(rev)))
        .project(nc("l_orderkey", col("l_orderkey")), nc("revenue", col("revenue")),
          nc("o_orderdate", col("o_orderdate")), nc("o_shippriority", col("o_shippriority")))
        .orderBy(Sort(col("revenue"), ascending = false), Sort(col("o_orderdate")), Sort(col("l_orderkey")))
        .limit(10)
    case "order_priority" =>
      val from = d(p(0))
      val late = load("lineitem").where(col("l_commitdate") < col("l_receiptdate"))
      val o = load("orders").where(col("o_orderdate") >= from,
        col("o_orderdate") < F.add_months(from, 3))
      PTable(o.df.join(late.df, col("l_orderkey") === col("o_orderkey"), "left_semi"))
        .groupBy(nc("o_orderpriority", col("o_orderpriority")))(nc("n", F.count(F.lit(1))))
        .orderBy(Sort(col("o_orderpriority")))
    case "local_volume" =>
      val from = d(s"${p(1)}-01-01")
      val o = load("orders").where(col("o_orderdate") >= from, col("o_orderdate") < F.add_months(from, 12))
      val r = load("region").where(col("r_name") === p(0).toString)
      val j = load("customer").df.join(o.df, col("c_custkey") === col("o_custkey"))
        .join(load("lineitem").df, col("l_orderkey") === col("o_orderkey"))
        .join(load("supplier").df, col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(load("nation").df, col("s_nationkey") === col("n_nationkey"))
        .join(r.df, col("n_regionkey") === col("r_regionkey"))
      PTable(j).groupBy(nc("n_name", col("n_name")))(nc("revenue", F.sum(rev)))
        .orderBy(Sort(col("revenue"), ascending = false), Sort(col("n_name")))
    case "forecast_revenue" =>
      val from = d(s"${p(0)}-01-01")
      val disc = p(1).asInstanceOf[Int] / 100.0
      load("lineitem").where(col("l_shipdate") >= from, col("l_shipdate") < F.add_months(from, 12),
          col("l_discount").between(disc - 0.01, disc + 0.01), col("l_quantity") < p(2).asInstanceOf[Int])
        .aggAll(nc("revenue", F.sum(col("l_extendedprice") * col("l_discount"))))
    case "volume_shipping" =>
      val (a, b) = (p(0).asInstanceOf[Int], p(1).asInstanceOf[Int])
      val n1 = load("nation").df.select(col("n_nationkey").as("n1k"), col("n_name").as("supp_nation"))
      val n2 = load("nation").df.select(col("n_nationkey").as("n2k"), col("n_name").as("cust_nation"))
      val l = load("lineitem").where(col("l_shipdate").between(d("1995-01-01"), d("1996-12-31")))
      val j = load("supplier").df.join(l.df, col("s_suppkey") === col("l_suppkey"))
        .join(load("orders").df, col("o_orderkey") === col("l_orderkey"))
        .join(load("customer").df, col("c_custkey") === col("o_custkey"))
        .join(n1, col("s_nationkey") === col("n1k"))
        .join(n2, col("c_nationkey") === col("n2k"))
        .where((col("n1k") === a && col("n2k") === b) || (col("n1k") === b && col("n2k") === a))
      PTable(j).groupBy(nc("supp_nation", col("supp_nation")), nc("cust_nation", col("cust_nation")),
          nc("y", F.year(col("l_shipdate"))))(nc("revenue", F.sum(rev)))
        .orderBy(Sort(col("supp_nation")), Sort(col("cust_nation")), Sort(col("y")))
    case "market_share" =>
      val r = load("region").where(col("r_name") === p(1).toString)
      val o = load("orders").where(col("o_orderdate").between(d("1995-01-01"), d("1996-12-31")))
      val j = load("part").where(col("p_type") === p(2).toString).df
        .join(load("lineitem").df, col("p_partkey") === col("l_partkey"))
        .join(load("supplier").df, col("s_suppkey") === col("l_suppkey"))
        .join(o.df, col("l_orderkey") === col("o_orderkey"))
        .join(load("customer").df, col("o_custkey") === col("c_custkey"))
        .join(load("nation").df, col("c_nationkey") === col("n_nationkey"))
        .join(r.df, col("n_regionkey") === col("r_regionkey"))
      PTable(j).groupBy(nc("y", F.year(col("o_orderdate"))))(
          nc("share", F.sum(F.when(col("s_nationkey") === p(0).asInstanceOf[Int], rev).otherwise(0.0))
            / F.sum(rev)))
        .orderBy(Sort(col("y")))
    case "returned_items" =>
      val from = d(p(0))
      val o = load("orders").where(col("o_orderdate") >= from, col("o_orderdate") < F.add_months(from, 3))
      val l = load("lineitem").where(col("l_returnflag") === "R")
      val j = load("customer").df.join(o.df, col("c_custkey") === col("o_custkey"))
        .join(l.df, col("l_orderkey") === col("o_orderkey"))
        .join(load("nation").df, col("c_nationkey") === col("n_nationkey"))
      PTable(j).groupBy(nc("c_custkey", col("c_custkey")), nc("c_name", col("c_name")),
          nc("n_name", col("n_name")))(nc("revenue", F.sum(rev)))
        .project(nc("c_custkey", col("c_custkey")), nc("c_name", col("c_name")),
          nc("revenue", col("revenue")), nc("n_name", col("n_name")))
        .orderBy(Sort(col("revenue"), ascending = false), Sort(col("c_custkey")))
        .limit(20)
    case "shipping_modes" =>
      val from = d(s"${p(2)}-01-01")
      val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      val l = load("lineitem").where(col("l_shipmode").isin(p(0), p(1)),
        col("l_commitdate") < col("l_receiptdate"), col("l_shipdate") < col("l_commitdate"),
        col("l_receiptdate") >= from, col("l_receiptdate") < F.add_months(from, 12))
      PTable(load("orders").df.join(l.df, col("o_orderkey") === col("l_orderkey")))
        .groupBy(nc("l_shipmode", col("l_shipmode")))(
          nc("high", F.sum(F.when(high, 1).otherwise(0))),
          nc("low", F.sum(F.when(!high, 1).otherwise(0))))
        .orderBy(Sort(col("l_shipmode")))
    case "promotion_effect" =>
      val from = d(p(0))
      val l = load("lineitem").where(col("l_shipdate") >= from, col("l_shipdate") < F.add_months(from, 1))
      PTable(l.df.join(load("part").df, col("l_partkey") === col("p_partkey")))
        .aggAll(nc("promo", F.lit(100.0) *
          F.sum(F.when(col("p_type").startsWith("PROMO"), rev).otherwise(0.0)) / F.sum(rev)))
  }

  def execute(t: Template, ps: Seq[Any]): Array[Row] =
    Trace.span("dsl.build")(build(t.name, ps)).df.collect()
}
