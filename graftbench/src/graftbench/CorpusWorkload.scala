package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.ext.{Dedup, Search}

/** Corpus ingest: seeded documents arrive in batches; each batch is
  * deduplicated exactly and approximately against persisted indexes, the
  * survivors are appended to a BM25 index, and a few searches follow.
  * The generator plants exact and near duplicates, so the checks know
  * which documents each stage must drop.
  */
final class CorpusWorkload(spark: SparkSession, gen: Gen, corrupt: Boolean)
    extends Workload {
  private val batchDocs = if (gen.tiny) 200 else 1000
  private val searchesPerBatch = 3
  /** Near duplicates replace one word of a 40-80 word original: word
    * 3-shingle Jaccard >= 38/44 = 0.86. With 12 minhashes in 4 bands the
    * probe keeps a pair when >= 9 of 12 hashes agree; at J = 0.86 that
    * happens with probability 0.93 and LSH proposes the pair with
    * probability 0.98, so expected recall is about 0.91. The floor leaves
    * room for sampling noise over a few hundred planted pairs. The
    * self-test (`corrupt`) sets a floor no run can reach.
    */
  private val threshold = 0.75
  private val recallFloor = if (corrupt) 1.01 else 0.8
  private val schema = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType)))

  private var fpDir = ""; private var lshDir = ""; private var idxDir = ""
  private var vocab: Array[String] = Array.empty
  private var rng = gen.rng("corpus")
  private val texts = mutable.HashMap.empty[Long, String]
  /** doc -> 0 original, 1 exact copy, 2 near copy of an earlier original. */
  private val kinds = mutable.HashMap.empty[Long, Int]
  private val originals = mutable.ArrayBuffer.empty[Long]
  /** Normalised texts (the fingerprint's alphanumerics) already indexed. */
  private val seen = mutable.HashSet.empty[String]
  private var nextId = 0L
  /** Indexed document ids, in the order their batches were appended. */
  private val indexed = mutable.ArrayBuffer.empty[Seq[Long]]
  private final case class SearchRec(op: Int, batches: Int, terms: Seq[String],
                                     got: Seq[(Long, Double)])
  private val searches = mutable.ArrayBuffer.empty[SearchRec]
  private var ingested = 0L
  private var nearIn = 0L; private var nearKept = 0L
  private var nearFlagged = 0L; private var nearFlaggedPlanted = 0L
  private var plantedNear = 0L; private var plantedNearDropped = 0L
  private var lastNearOp = -1
  private var afterSetup = Map.empty[String, Long]

  // the batch in flight: its stage inputs and outputs
  private var batch: Seq[Long] = Nil
  private var exactKept: Seq[Long] = Nil
  private var nearKeptIds: Seq[Long] = Nil

  private def word(r: java.util.SplittableRandom): String = {
    val u = r.nextDouble()
    vocab((vocab.length * u * u).toInt)
  }

  /** Generates the next batch, planting about 5% exact and 5% near copies
    * of earlier originals.
    */
  private def newBatch(n: Int, plant: Boolean): Seq[Long] = {
    (0 until n).map { _ =>
      val id = nextId; nextId += 1
      val u = rng.nextDouble()
      if (plant && u < 0.05 && originals.nonEmpty) {
        val src = originals(rng.nextInt(originals.length))
        texts(id) = texts(src); kinds(id) = 1
      } else if (plant && u < 0.10 && originals.nonEmpty) {
        val src = originals(rng.nextInt(originals.length))
        val ws = texts(src).split(" ")
        val at = rng.nextInt(ws.length)
        var w = word(rng)
        while (w == ws(at)) w = word(rng)
        ws(at) = w
        texts(id) = ws.mkString(" "); kinds(id) = 2
      } else {
        texts(id) = Array.fill(40 + rng.nextInt(41))(word(rng)).mkString(" ")
        kinds(id) = 0; originals += id
      }
      id
    }
  }

  private def norm(id: Long): String = texts(id).replace(" ", "")

  private def frame(ids: Seq[Long]): DataFrame =
    spark.createDataFrame(ids.map(i => Row(i, texts(i))).asJava, schema)

  def build(dir: String): Unit = {
    fpDir = s"$dir/fp"; lshDir = s"$dir/lsh"; idxDir = s"$dir/index"
    rng = gen.rng("corpus")
    val vr = gen.rng("vocabulary")
    vocab = Array.fill(4000)(Array.fill(3 + vr.nextInt(7))(('a' + vr.nextInt(26)).toChar).mkString)
      .distinct
    texts.clear(); kinds.clear(); originals.clear(); indexed.clear(); seen.clear()
    nextId = 0L
    val first = newBatch(batchDocs / 2, plant = false)
    val df = frame(first)
    Dedup.dedupAgainstIndex(df, "doc_id", "text", fpDir, updateIndex = true).count()
    Dedup.neardupAgainstIndex(df, "doc_id", "text", lshDir, threshold,
      updateIndex = true).count()
    Search.buildIndex(df, "doc_id", "text", idxDir, nBuckets = 16)
    indexed += first
    seen ++= first.map(norm)
  }

  def warmUp(): Unit = {
    (0 until cycle).foreach { i => val op = next(-1 - i); op.run(); op.post() }
    afterSetup = files()
    ingested = 0L; nearIn = 0L; nearKept = 0L; nearFlagged = 0L
    nearFlaggedPlanted = 0L; plantedNear = 0L; plantedNearDropped = 0L
    searches.clear()
  }

  private def files() = Disk.files(fpDir) ++ Disk.files(lshDir) ++ Disk.files(idxDir)

  def cycleSeconds: Double = 6.0
  def cycle: Int = 3 + searchesPerBatch

  /** Warm-up passes negative ids, -1 - position in the cycle. */
  def next(i: Int): Op = (if (i >= 0) i % cycle else -1 - i) match {
    case 0 =>
      batch = newBatch(batchDocs, plant = true)
      val in = frame(batch)
      var got: Seq[Long] = Nil
      Op("dedup_exact", OpClass.Commit, () => got = Trace.span("ext.dedup_exact")(
        Dedup.dedupAgainstIndex(in, "doc_id", "text", fpDir, updateIndex = true)
          .select("doc_id").collect().map(_.getLong(0)).toSeq), () => {
        exactKept = got.sorted
        ingested += batch.map(texts(_).length.toLong).sum
        // the first copy of each text not seen before survives
        val want = batch.filter { d =>
          val fresh = !seen(norm(d)); seen += norm(d); fresh != (corrupt && d == batch.head)
        }
        if (exactKept == want.sorted) None
        else Some(s"kept ${exactKept.length} of ${batch.length}, expected ${want.length}")
      })
    case 1 =>
      val in = frame(exactKept)
      var got: Seq[Long] = Nil
      if (i >= 0) lastNearOp = i
      Op("dedup_near", OpClass.Commit, () => got = Trace.span("ext.dedup_near")(
        Dedup.neardupAgainstIndex(in, "doc_id", "text", lshDir, threshold,
          updateIndex = true).select("doc_id").collect().map(_.getLong(0)).toSeq), () => {
        nearKeptIds = got.sorted
        val kept = nearKeptIds.toSet
        val dropped = exactKept.filterNot(kept)
        val planted = exactKept.filter(kinds(_) == 2)
        nearIn += exactKept.length; nearKept += kept.size
        nearFlagged += dropped.length
        nearFlaggedPlanted += dropped.count(kinds(_) == 2)
        plantedNear += planted.length
        plantedNearDropped += planted.count(d => !kept(d))
        // the self-test (`corrupt`) takes the planted near copies for originals
        val wrong = dropped.filter(d => kinds(d) != 2 || corrupt)
        if (wrong.isEmpty) None
        else Some(s"dropped ${wrong.length} documents that are not near copies")
      })
    case 2 =>
      val in = frame(nearKeptIds)
      val ids = nearKeptIds
      Op("index_append", OpClass.Commit, () => Trace.span("ext.index_append")(
        Search.appendIndex(in, "doc_id", "text", idxDir)), () => { indexed += ids; None })
    case _ =>
      val terms = Seq.fill(2 + rng.nextInt(2))(vocab(rng.nextInt(200))).distinct
      var got: Seq[(Long, Double)] = Nil
      Op("search", OpClass.Read, () => got = Trace.span("ext.search")(
        Search.searchIndex(spark, idxDir, terms, 10).collect()
          .map(r => (r.getLong(0), r.getDouble(1))).toSeq), () => {
        if (i >= 0) searches += SearchRec(i, indexed.length, terms, got)
        None
      })
  }

  def check(): Seq[(Int, String)] = {
    // BM25 over the same documents, scanned directly, per index state
    val corpus = mutable.HashMap.empty[Int, DataFrame]
    val bad = searches.toSeq.flatMap { s =>
      val df = corpus.getOrElseUpdate(s.batches,
        frame(indexed.take(s.batches).flatten.toSeq).localCheckpoint())
      val want = Search.bm25Search(df, "doc_id", "text", s.terms, 10).collect()
        .map(r => (r.getLong(0), r.getDouble(1) + (if (corrupt) 1.0 else 0.0))).toSeq
      val same = want.length == s.got.length && want.zip(s.got).forall {
        case ((a, x), (b, y)) => a == b && math.abs(x - y) <= 1e-6
      }
      if (same) None
      else Some((s.op, s"search: ${s.terms}: index ${s.got.take(3)}, scan ${want.take(3)}"))
    }
    val recall = if (plantedNear == 0) 1.0 else plantedNearDropped.toDouble / plantedNear
    bad ++ (if (recall < recallFloor)
      Seq((lastNearOp, f"recall: planted near-duplicate recall $recall%.3f below $recallFloor"))
    else Nil)
  }

  override def extra(ops: Seq[OpRec]): Map[String, Double] = {
    val now = files()
    val written = now.filter { case (p, _) => !afterSetup.contains(p) }
    Map(
      "sources.files_written" -> written.size.toDouble,
      "sources.bytes_written" -> written.values.sum.toDouble,
      "sources.files_live" -> now.size.toDouble,
      "ext.near_candidates" -> nearIn.toDouble,
      "ext.near_kept" -> nearKept.toDouble,
      "ext.near_precision" -> (if (nearFlagged == 0) 1.0 else nearFlaggedPlanted.toDouble / nearFlagged),
      "ext.planted_recall" -> (if (plantedNear == 0) 1.0 else plantedNearDropped.toDouble / plantedNear),
      "write_amp" -> (if (ingested == 0) 0.0 else written.values.sum.toDouble / ingested))
  }
}
