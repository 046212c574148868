package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession, functions => F}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._

object Disk {
  /** Every regular file under `dir`, with its size. */
  def files(dir: String): Map[String, Long] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p.toString -> Files.size(p)).toMap
      finally s.close()
    }
  }

  def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
}

/** A keyed table with writes beside reads: upserts, merge-on-read deltas,
  * deletes, point lookups, range reads, maintenance passes, incremental
  * view refreshes with routed aggregates, and a final vacuum. A plain
  * Scala model (key -> row) checks every read and the final table.
  */
final class KeyedWorkload(spark: SparkSession, gen: Gen, corrupt: Boolean)
    extends Workload {
  private val M = graft.sources.Maintenance
  private val MV = graft.sources.MatView
  private val seed = gen.seed
  private val nKeys = if (gen.tiny) 2000L else 50000L
  private val nBuckets = 16
  /** Rows per upsert or delta: about 1% of the keys. */
  private val batch = math.max(nKeys / 100, 20L).toInt
  /** Raw bytes of one row: k, g, v, ts and the 64-character pad. */
  private val RowBytes = 8 + 4 + 8 + 8 + 64
  private val schema = StructType(Seq(StructField("k", LongType),
    StructField("g", IntegerType), StructField("v", LongType),
    StructField("ts", LongType), StructField("pad", StringType)))

  private var table = ""
  private var mvDir = ""
  /** key -> (g, v, ts); the pad is a function of (key, ts). */
  private val model = mutable.HashMap.empty[Long, (Int, Long, Long)]
  private var nextKey = 0L
  private var ts = 0L
  private val recent = mutable.ArrayBuffer.empty[Long]
  private var rng = gen.rng("keyed")
  private var targetBytes = 0L
  private var ingested = 0L
  private var afterSetup = Map.empty[String, Long]
  private var beforeVacuum = Map.empty[String, Long]
  private var liveFiles = Map.empty[String, Long]
  private var routeHits = 0
  private var routeAttempts = 0
  private var lastOp = -1

  private def g(k: Long): Int = java.lang.Math.floorMod(k * 7 + seed, 16L).toInt
  private def pad(k: Long, t: Long): String =
    Disk.md5(s"$seed:$k:$t") + Disk.md5(s"$k:$t:$seed")
  private def expect(k: Long): Option[(Int, Long, Long)] =
    model.get(k).map { case (gg, v, t) => (gg, if (corrupt) v + 1 else v, t) }

  def build(dir: String): Unit = {
    table = s"$dir/t"; mvDir = s"$dir/mv"
    rng = gen.rng("keyed")
    model.clear(); recent.clear()
    (0L until nKeys).foreach(k =>
      model(k) = (g(k), java.lang.Math.floorMod(k * 7919 + seed, 1000L), 0L))
    nextKey = nKeys; ts = 0L
    val k = col("id")
    val base = spark.range(nKeys).select(k.as("k"),
      F.pmod(k * 7 + seed, lit(16L)).cast("int").as("g"),
      F.pmod(k * 7919 + seed, lit(1000L)).as("v"), lit(0L).as("ts"),
      F.concat(F.md5(F.concat_ws(":", lit(seed), k, lit(0L))),
        F.md5(F.concat_ws(":", k, lit(0L), lit(seed)))).as("pad"))
    Trace.span("sources.write_keyed")(
      M.writeKeyed(base, table, Seq("k"), nBuckets, statsCols = Seq("k")))
    targetBytes = M.dirBytes(spark, table) / nBuckets * 5 / 4
    MV.buildMv(spark, table, mvDir, Seq("g"), Seq("v"), 4)
  }

  def warmUp(): Unit = {
    kinds.indices.foreach { i => val op = make(kinds(i), i); op.run(); op.post() }
    afterSetup = Disk.files(table) ++ Disk.files(mvDir)
    ingested = 0L; routeHits = 0; routeAttempts = 0
  }

  /** One cycle of the timed stream: each commit is followed by reads that
    * see its writes, and the view is refreshed right before it is routed.
    */
  private val kinds = Vector("upsert", "lookup", "read_where", "append_delta",
    "lookup", "mv_refresh", "mv_route", "delete", "lookup", "read_where",
    "maintain", "lookup")

  def cycleSeconds: Double = 5.5
  def cycle: Int = kinds.length
  def next(i: Int): Op = { lastOp = i; make(kinds(i % cycle), i % cycle) }

  private def rows(keys: Seq[Long]): Seq[(Long, Int, Long, Long)] = {
    ts += 1
    keys.map(k => (k, g(k), rng.nextLong(1000L), ts))
  }
  private def frame(rs: Seq[(Long, Int, Long, Long)]): DataFrame =
    spark.createDataFrame(rs.map { case (k, gg, v, t) => Row(k, gg, v, t, pad(k, t)) }
      .asJava, schema)
  /** Distinct keys: `n` drawn from the key space, a fifth of them new. */
  private def writeKeys(n: Int): Seq[Long] = {
    val ks = mutable.LinkedHashSet.empty[Long]
    while (ks.size < n)
      ks += (if (rng.nextInt(5) == 0) { nextKey += 1; nextKey - 1 }
             else rng.nextLong(nextKey))
    ks.toSeq
  }
  private def applied(rs: Seq[(Long, Int, Long, Long)]): Option[String] = {
    rs.foreach { case (k, gg, v, t) => model(k) = (gg, v, t); recent += k }
    if (recent.length > 20000) recent.remove(0, recent.length - 10000)
    ingested += rs.length.toLong * RowBytes
    None
  }

  /** Compares collected (k, g, v, ts, pad) rows with the model for `keys`. */
  private def compare(got: Array[Row], keys: Iterable[Long]): Option[String] = {
    val byKey = got.map(r => r.getLong(0) -> r).toMap
    if (byKey.size != got.length) return Some("duplicate keys in the result")
    val want = keys.flatMap(k => expect(k).map(k -> _)).toMap
    if (want.size != byKey.size)
      return Some(s"${byKey.size} rows, model has ${want.size}")
    want.collectFirst {
      case (k, (gg, v, t)) if !byKey.get(k).exists(r =>
          r.getInt(1) == gg && r.getLong(2) == v && r.getLong(3) == t &&
            r.getString(4) == pad(k, t)) =>
        s"key $k: got ${byKey.get(k).map(_.toString)}, model ($gg, $v, $t)"
    }
  }
  private def cols(df: DataFrame) = df.select("k", "g", "v", "ts", "pad")

  private def make(kind: String, pos: Int): Op = kind match {
    case "upsert" =>
      val rs = rows(writeKeys(batch))
      Op(kind, OpClass.Commit, () => Trace.span("sources.upsert")(
        M.upsertKeyed(spark, table, frame(rs), "k", nBuckets)), () => applied(rs))
    case "append_delta" =>
      val rs = rows(writeKeys(batch))
      Op(kind, OpClass.Commit, () => Trace.span("sources.append_delta")(
        M.appendDeltaKeyed(spark, table, frame(rs), "k", nBuckets)), () => applied(rs))
    case "delete" =>
      val ks = mutable.LinkedHashSet.empty[Long]
      while (ks.size < batch / 3) ks += rng.nextLong(nextKey)
      Op(kind, OpClass.Commit, () => Trace.span("sources.delete")(
        M.deleteKeyed(spark, table, spark.createDataFrame(
          ks.toSeq.map(k => Row(k)).asJava,
          StructType(Seq(StructField("k", LongType)))), "k", nBuckets)),
        () => { ks.foreach(model.remove); ingested += 8L * ks.size; None })
    case "lookup" =>
      // the cycle's four lookups ask for 8, 16, 32 and 64 keys
      val n = 8 << (kinds.take(pos).count(_ == "lookup") % 4)
      val ks = (Seq.fill(n / 2)(recent(recent.length - 1 - rng.nextInt(math.min(recent.length, 5000)))) ++
        Seq.fill(n - n / 2)(rng.nextLong(nextKey))).distinct
      var got: Array[Row] = null
      Op(kind, OpClass.Read, () => got = Trace.span("sources.lookup")(
        cols(M.lookupKeyed(spark, table, ks)).collect()), () => compare(got, ks))
    case "read_where" =>
      val a = rng.nextLong(nextKey)
      var got: Array[Row] = null
      Op(kind, OpClass.Read, () => got = Trace.span("sources.read_where")(
        cols(M.readKeyedWhere(spark, table, col("k") >= a && col("k") < a + 2000))
          .collect()), () => compare(got, a until a + 2000))
    case "maintain" =>
      Op(kind, OpClass.Commit, () => Trace.span("sources.maintain")(
        M.maintainKeyed(spark, table, targetBytes)))
    case "mv_refresh" =>
      Op(kind, OpClass.Commit, () => Trace.span("sources.mv_refresh")(
        MV.refreshMvIncremental(spark, mvDir)))
    case "mv_route" =>
      var got: Array[Row] = null
      Op(kind, OpClass.Read, () => got = Trace.span("sources.mv_route") {
        routeAttempts += 1
        val routed = MV.route(spark, table, Seq(("g", "g")),
          Seq(("s", "sum", Some("v")), ("n", "count", None)))
        if (routed.isDefined) routeHits += 1
        routed.getOrElse(M.readKeyed(spark, table).groupBy("g")
          .agg(F.sum("v").as("s"), F.count(lit(1)).as("n")))
          .select(col("g").cast("int"), col("s").cast("long"), col("n").cast("long"))
          .collect()
      }, () => {
        val want = model.keys.toSeq.flatMap(k => expect(k)).groupBy(_._1)
          .map { case (gg, xs) => gg -> (xs.map(_._2).sum, xs.size.toLong) }
        val have = got.map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
        if (have == want) None else Some(s"routed aggregate $have, model $want")
      })
  }

  override def closing(): Seq[Op] = {
    beforeVacuum = Disk.files(table) ++ Disk.files(mvDir)
    Seq(Op("vacuum", OpClass.Other, () => Trace.span("sources.vacuum")(
      M.vacuumKeyed(spark, table, keepVersions = 1, graceMs = 0L)),
      () => { liveFiles = Disk.files(table); None }))
  }

  def check(): Seq[(Int, String)] = {
    val got = cols(M.readKeyed(spark, table)).collect()
    compare(got, model.keys).map(m => (lastOp + 1, s"final_read: $m")).toSeq
  }

  override def extra(ops: Seq[OpRec]): Map[String, Double] = {
    val written = beforeVacuum.filter { case (p, _) => !afterSetup.contains(p) }
    Map(
      "sources.files_written" -> written.size.toDouble,
      "sources.bytes_written" -> written.values.sum.toDouble,
      "sources.files_live" -> liveFiles.size.toDouble,
      "sources.mv_route_hits" -> routeHits.toDouble,
      "sources.mv_route_attempts" -> routeAttempts.toDouble,
      "write_amp" -> (if (ingested == 0) 0.0 else written.values.sum.toDouble / ingested),
      "space_amp" -> liveFiles.values.sum.toDouble / math.max(model.size.toLong * RowBytes, 1L))
  }
}
