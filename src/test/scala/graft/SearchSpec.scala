package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import graft.ext.Search
import graft.plans.FreqSketch
import graft.sources.Tables

/** Behavioral specs for the ranked-retrieval module (ext/Search) and
  * the Misra-Gries frequent-items aggregate (plans/FreqSketch).
  */
class SearchSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables.load(spark, sf, "documents").df

  test("termFreq counts duplicate tokens; blank text has none") {
    val out = Seq("a b a a", "b", "", "   ").toDF("t")
      .select(Search.termFreq(col("t"), "a")).collect().map(_.getInt(0))
    assert(out.toSeq == Seq(3, 0, 0, 0))
  }

  test("bm25: higher tf of a rarer term wins; non-matching docs excluded") {
    val corpus = Seq(
      (1L, "rare rare common filler filler"),
      (2L, "rare common filler filler filler"),
      (3L, "common filler filler filler filler"),
      (4L, "filler filler filler filler filler"),
      (5L, null.asInstanceOf[String])).toDF("id", "text")
    val res = Search.bm25Search(corpus, "id", "text",
      Seq("rare", "common"), 10).collect()
    val ids = res.map(_.getLong(0)).toSeq
    // doc 4 matches nothing, doc 5 is null — both excluded
    assert(ids.toSet == Set(1L, 2L, 3L))
    // two 'rare' hits beat one beat zero; doc3 has only the commoner term
    assert(ids == Seq(1L, 2L, 3L))
    // scores strictly ordered
    val scores = res.map(_.getDouble(1)).toSeq
    assert(scores == scores.sorted.reverse && scores.distinct == scores)
  }

  test("bm25: length normalization prefers the shorter doc at equal tf") {
    val corpus = Seq(
      (1L, "hit pad"),
      (2L, "hit pad pad pad pad pad pad pad")).toDF("id", "text")
    val res = Search.bm25Search(corpus, "id", "text", Seq("hit"), 10)
      .collect().map(_.getLong(0)).toSeq
    assert(res == Seq(1L, 2L))
  }

  test("bm25: classic log idf keeps the rational ranking (monotone)") {
    val rational = Search.bm25Search(docs, "doc_id", "text",
      Seq("spark"), 15).collect().map(_.getLong(0)).toSeq
    val classic = Search.bm25Search(docs, "doc_id", "text",
      Seq("spark"), 15, classicIdf = true).collect().map(_.getLong(0)).toSeq
    assert(rational == classic)
  }

  test("searchIndex is bit-identical to the direct bm25 scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft_searchidx")
      .toString
    try {
      // non-default bucket count: the querier must recover it from
      // the index metadata, never guess it
      Search.buildIndex(docs, "doc_id", "text", dir, nBuckets = 16)
      val terms = Seq("customer", "window", "spark")
      val direct = Search.bm25Search(docs, "doc_id", "text", terms, 30)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val indexed = Search.searchIndex(spark, dir, terms, 30)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(direct == indexed)
      // conjunctive mode agrees bit-for-bit too
      val directAll = Search.bm25Search(docs, "doc_id", "text", terms, 30,
        requireAll = true)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val indexedAll = Search.searchIndex(spark, dir, terms, 30,
        requireAll = true)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(directAll == indexedAll)
      assert(directAll.map(_._1).toSet.subsetOf(direct.map(_._1).toSet))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(dir))
    }
  }

  /** The search plan over the index at `dir` reads the postings in
    * exactly two scans (the postings and the df fold) whatever the
    * segment count, and its files lie only in the query terms' bucket
    * dirs of `segments` distinct segments.
    */
  private def assertPrunedScan(dir: String, terms: Seq[String],
                               nBuckets: Int, segments: Int): Unit = {
    val q = Search.searchIndex(spark, dir, terms, 30)
    val plan = q.queryExecution.executedPlan.toString
    val nScans = "FileScan parquet".r.findAllIn(plan).size
    assert(nScans == 2, s"$nScans postings scans\n$plan")
    val want = terms.map(t =>
      graft.ext.TextAnalysis.h60Value(t) % nBuckets).toSet
    val read = q.inputFiles.toSeq.map { f =>
      val m = ".*/(s[^/]+)/postings/bucket=(\\d+)/[^/]+$".r
        .findFirstMatchIn(f).getOrElse(fail(s"not a postings file: $f"))
      (m.group(1), m.group(2).toLong)
    }
    assert(read.map(_._2).toSet.subsetOf(want),
      s"read buckets ${read.map(_._2).toSet}, query buckets $want")
    assert(read.map(_._1).toSet.size == segments)
  }

  /** Runs `body` and returns its result with the first-stage names of
    * the Spark jobs it ran.
    */
  private def withJobs[T](body: => T): (T, Seq[String]) = {
    val names = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        names.add(js.stageInfos.headOption.map(_.name).getOrElse(""))
    }
    org.apache.spark.ListenerDrain.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.ListenerDrain.drain(spark.sparkContext)
      (out, names.asScala.toSeq)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("searchIndex runs the same jobs at 1 and 4 segments, none of them schema inference") {
    val one = java.nio.file.Files.createTempDirectory("graft_jobs1").toString
    val four = java.nio.file.Files.createTempDirectory("graft_jobs4").toString
    try {
      Search.buildIndex(docs, "doc_id", "text", one, nBuckets = 16)
      Search.buildIndex(docs.filter(col("doc_id") % 4 === 0), "doc_id",
        "text", four, nBuckets = 16)
      (1 to 3).foreach(r => Search.appendIndex(
        docs.filter(col("doc_id") % 4 === r), "doc_id", "text", four))
      assert(graft.sources.Maintenance.listSegments(spark, four).size == 4)
      val terms = Seq("customer", "window", "spark")
      val direct = Search.bm25Search(docs, "doc_id", "text", terms, 30)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      def search(dir: String) = withJobs(Search.searchIndex(spark, dir,
        terms, 30).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq)
      // the first search of an index also reads its stats (one job per
      // segment, memoized after); the second is the steady state
      val runs = Seq(one, four).map(d => (search(d), search(d)))
      for (((cold, coldJobs), (warm, warmJobs)) <- runs) {
        assert(cold == direct && warm == direct)
        // a schema-inference job is named after the parquet() call
        assert(!(coldJobs ++ warmJobs).exists(_.startsWith("parquet at")),
          s"schema-inference jobs: ${coldJobs ++ warmJobs}")
      }
      val Seq(oneJobs, fourJobs) = runs.map(_._2._2)
      assert(oneJobs.nonEmpty && oneJobs.size == fourJobs.size,
        s"1 segment: $oneJobs; 4 segments: $fourJobs")
    } finally Seq(one, four).foreach(d =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d)))
  }

  test("searchIndex: terms hashing only to absent bucket dirs match nothing") {
    val dir = java.nio.file.Files.createTempDirectory("graft_absent").toString
    try {
      Search.buildIndex(Seq((1L, "alpha beta"), (2L, "beta gamma"))
        .toDF("id", "text"), "id", "text", dir, nBuckets = 64)
      val seg = graft.sources.Maintenance.listSegments(spark, dir).head
      def absent(t: String) = !new java.io.File(
        s"$seg/postings/bucket=${graft.ext.TextAnalysis.h60Value(t) % 64}")
        .exists
      val terms = Iterator.from(0).map(i => s"zz$i").filter(absent).take(2)
        .toSeq
      assert(Search.searchIndex(spark, dir, terms, 10).collect().isEmpty)
      assert(Search.phraseSearchIndex(spark, dir, terms).collect().isEmpty)
      // a present bucket still answers next to an absent one
      assert(Search.searchIndex(spark, dir, terms :+ "gamma", 10)
        .collect().map(_.getLong(0)).toSeq == Seq(2L))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(dir))
  }

  test("searchIndex refuses segments that disagree on the doc_id type, naming the segment") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mixedid")
      .toString
    try {
      Search.buildIndex(Seq((1L, "alpha beta")).toDF("id", "text"), "id",
        "text", dir, nBuckets = 4)
      Search.appendIndex(Seq(("two", "beta gamma")).toDF("id", "text"),
        "id", "text", dir)
      val added = graft.sources.Maintenance.listSegments(spark, dir).last
      val err = intercept[IllegalArgumentException] {
        Search.searchIndex(spark, dir, Seq("beta"), 10)
      }
      assert(err.getMessage.contains(added) &&
        err.getMessage.contains("doc_id"), err.getMessage)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(dir))
  }

  test("Fs.parquetSchema: one footer, partition dirs descended, a rewritten file misses the memo") {
    val dir = java.nio.file.Files.createTempDirectory("graft_fsschema")
      .toString
    try {
      val Fs = graft.sources.Fs
      assert(Fs.parquetSchema(spark, s"$dir/missing").isEmpty)
      Seq((1, "x")).toDF("a", "p").write.partitionBy("p")
        .parquet(s"$dir/parted")
      // the partition column lives in the dir name, not the file
      assert(Fs.parquetSchema(spark, s"$dir/parted").map(_.fieldNames.toSeq)
        .contains(Seq("a")))
      Seq(1L).toDF("a").coalesce(1).write.parquet(s"$dir/t")
      assert(Fs.parquetSchema(spark, s"$dir/t").map(_.simpleString)
        .contains("struct<a:bigint>"))
      // same path, new bytes: the file's (path, mtime, length) identity
      // changed, so the memo must not answer with the old schema
      Seq("s").toDF("b").coalesce(1).write.parquet(s"$dir/u")
      def part(d: String) = new java.io.File(d).listFiles
        .filter(_.getName.endsWith(".parquet")).head
      val target = part(s"$dir/t")
      val mtime = target.lastModified()
      java.nio.file.Files.copy(part(s"$dir/u").toPath, target.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      new java.io.File(target.getParent, s".${target.getName}.crc").delete()
      target.setLastModified(mtime + 10000)
      assert(Fs.parquetSchema(spark, s"$dir/t").map(_.simpleString)
        .contains("struct<b:string>"))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(dir))
  }

  test("appendIndex: grown index == full-corpus scan, segments immutable, rebuild + vacuum") {
    val dir = java.nio.file.Files.createTempDirectory("graft_appendidx")
      .toString
    try {
      val a = docs.filter(col("doc_id") % 3 === 0)
      val b = docs.filter(col("doc_id") % 3 =!= 0)
      Search.buildIndex(a, "doc_id", "text", dir, nBuckets = 16)
      val before = parquetFileState(dir)
      Search.appendIndex(b, "doc_id", "text", dir)
      // the base segment was never rewritten — bytes ∝ appended docs
      val after = parquetFileState(dir)
      before.foreach { case (p, t) =>
        assert(after.get(p).contains(t), s"append rewrote base segment: $p")
      }
      // BM25 and phrase/near queries over the grown index are
      // bit-identical to the direct scan of the FULL corpus
      val terms = Seq("customer", "window", "spark")
      assert(Search.searchIndex(spark, dir, terms, 30)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
        Search.bm25Search(docs, "doc_id", "text", terms, 30)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq)
      assert(Search.phraseSearchIndex(spark, dir, Seq("scan", "query"))
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet ==
        Search.phraseSearch(docs, "doc_id", "text", Seq("scan", "query"))
          .collect().map(r => (r.getLong(0), r.getInt(1))).toSet)
      // pruning holds across segments, in ONE scan per branch: both
      // segments are read, but only the query terms' bucket dirs
      assertPrunedScan(dir, terms, 16, segments = 2)
      // a rebuild REPLACES the segment list; vacuum reclaims the old
      // segments and the rebuilt index still answers identically
      Search.buildIndex(docs, "doc_id", "text", dir, nBuckets = 8,
        filesPerBucket = 2)
      Search.vacuumIndex(spark, dir, keepVersions = 1, graceMs = 0L)
      val live = graft.sources.Maintenance.listSegments(spark, dir)
      assert(live.size == 1)
      val onDisk = new java.io.File(dir).listFiles
        .map(_.getName).filter(_.startsWith("s")).toSet
      assert(onDisk == live.map(_.split('/').last).toSet,
        s"stale segments survived vacuum: $onDisk")
      assert(Search.searchIndex(spark, dir, terms, 30)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
        Search.bm25Search(docs, "doc_id", "text", terms, 30)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq)
      // filesPerBucket widened the write without fragmenting pruning:
      // the segment holds more files than buckets (each bucket ≤ 2),
      // and every file still lives under its bucket dir
      val bdirs = new java.io.File(live.head + "/postings").listFiles
        .filter(_.getName.startsWith("bucket="))
      val perBucket = bdirs.map(
        _.listFiles.count(_.getName.endsWith(".parquet")))
      assert(perBucket.sum > bdirs.length && perBucket.forall(_ <= 2),
        s"sub-split did not widen the layout: ${perBucket.toSeq}")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(dir))
    }
  }

  test("compactIndex folds the segment list: parity bit-identical, tiered smallestK keeps the base, appends survive") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compactidx")
      .toString
    try {
      val M = graft.sources.Maintenance
      // a big base + two small appends = 3 segments
      Search.buildIndex(docs.filter(col("doc_id") % 4 =!= 3), "doc_id",
        "text", dir, nBuckets = 16)
      val baseSeg = M.listSegments(spark, dir).head
      Search.appendIndex(docs.filter(col("doc_id") % 8 === 3), "doc_id",
        "text", dir)
      Search.appendIndex(docs.filter(col("doc_id") % 8 === 7), "doc_id",
        "text", dir)
      assert(M.listSegments(spark, dir).size == 3)
      val terms = Seq("customer", "window", "spark")
      def indexed() = Search.searchIndex(spark, dir, terms, 30)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val direct = Search.bm25Search(docs, "doc_id", "text", terms, 30)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(indexed() == direct)
      // tiered fold: the 2 smallest segments merge; the big base is
      // NEVER read or rewritten (compaction IO ∝ the small tail)
      val baseState = parquetFileState(baseSeg)
      Search.compactIndex(spark, dir, smallestK = Some(2))
      val after2 = M.listSegments(spark, dir)
      assert(after2.size == 2 && after2.contains(baseSeg))
      assert(parquetFileState(baseSeg) == baseState,
        "smallestK fold rewrote the base segment")
      assert(indexed() == direct)
      // full fold: one segment, still bit-identical (positions
      // included — the fold never re-tokenizes), pruning intact
      Search.compactIndex(spark, dir)
      assert(M.listSegments(spark, dir).size == 1)
      assert(indexed() == direct)
      assert(Search.phraseSearchIndex(spark, dir, Seq("scan", "query"))
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet ==
        Search.phraseSearch(docs, "doc_id", "text", Seq("scan", "query"))
          .collect().map(r => (r.getLong(0), r.getInt(1))).toSet)
      assertPrunedScan(dir, terms, 16, segments = 1)
      // policy no-op below minSegments; vacuum reclaims folded segments
      val v = M.manifestVersions(spark, dir).last
      Search.compactIndex(spark, dir)
      assert(M.manifestVersions(spark, dir).last == v)
      Search.vacuumIndex(spark, dir, keepVersions = 1, graceMs = 0L)
      val onDisk = new java.io.File(dir).listFiles
        .map(_.getName).filter(_.startsWith("s")).toSet
      assert(onDisk ==
        M.listSegments(spark, dir).map(_.split('/').last).toSet)
      assert(indexed() == direct)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(dir))
    }
  }

  test("appendIndex refuses a pre-manifest index instead of dropping its corpus") {
    val dir = java.nio.file.Files.createTempDirectory("graft_legacyidx")
      .toString
    // a legacy layout (postings/stats at the root, no manifest) must
    // not be silently replaced by an appended-only manifest
    val err = intercept[IllegalArgumentException] {
      Search.appendIndex(docs, "doc_id", "text", dir)
    }
    assert(err.getMessage.contains("pre-manifest"), err.getMessage)
  }

  test("phraseCount: consecutive matches only, overlaps count, short docs safe") {
    val df = Seq(
      (1L, "a b c a b"),   // "a b" twice
      (2L, "a a a"),       // "a a" twice (overlapping)
      (3L, "b a"),         // reversed -> no "a b"
      (4L, "a"),           // shorter than the phrase
      (5L, "")).toDF("id", "t")
    val ab = df.select(Search.phraseCount(col("t"), Seq("a", "b")))
      .collect().map(_.getInt(0)).toSeq
    assert(ab == Seq(2, 0, 0, 0, 0))
    val aa = df.select(Search.phraseCount(col("t"), Seq("a", "a")))
      .collect().map(_.getInt(0)).toSeq
    assert(aa == Seq(0, 2, 0, 0, 0))
    // single-term phrase degenerates to termFreq
    val a1 = df.select(Search.phraseCount(col("t"), Seq("a")))
      .collect().map(_.getInt(0)).toSeq
    assert(a1 == Seq(2, 3, 1, 1, 0))
  }

  test("phraseSearchIndex is row-identical to the phrase scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft_phraseidx")
      .toString
    try {
      Search.buildIndex(docs, "doc_id", "text", dir, nBuckets = 16)
      for (phrase <- Seq(Seq("scan", "query"), Seq("table", "table"),
        Seq("value", "table", "part"), Seq("spark"),
        Seq("nosuchterm", "table"))) {
        val direct = Search.phraseSearch(docs, "doc_id", "text", phrase)
          .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
        val indexed = Search.phraseSearchIndex(spark, dir, phrase)
          .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
        assert(direct == indexed, s"phrase $phrase disagrees")
      }
      // and the testdata really exercises it (non-empty somewhere)
      assert(Search.phraseSearch(docs, "doc_id", "text",
        Seq("table", "table")).count() > 0)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(dir))
    }
  }

  test("nearSearch: ordered chains within slop; slop=1 equals the phrase") {
    val df = Seq(
      (1L, "a x b"),       // a..b with one gap: slop 2 matches, 1 not
      (2L, "a b"),         // consecutive
      (3L, "b x x a"),     // wrong order
      (4L, "a x x x b"),   // gap 4: only slop >= 4
      (5L, "a x b x b")).toDF("id", "t") // one start, two chain ends -> 1
    def near(slop: Int) = Search.nearSearch(df, "id", "t", Seq("a", "b"), slop)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(near(1) == Map(2L -> 1))
    assert(near(2) == Map(1L -> 1, 2L -> 1, 5L -> 1))
    assert(near(4) == Map(1L -> 1, 2L -> 1, 4L -> 1, 5L -> 1))
    // slop=1 == phrase semantics on the corpus
    val p = Search.phraseSearch(docs, "doc_id", "text", Seq("scan", "query"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val n1 = Search.nearSearch(docs, "doc_id", "text",
      Seq("scan", "query"), 1)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(p == n1)
  }

  test("nearSearchIndex is row-identical to the near scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft_nearidx")
      .toString
    try {
      Search.buildIndex(docs, "doc_id", "text", dir, nBuckets = 16)
      for ((terms, slop) <- Seq((Seq("scan", "query"), 3),
        (Seq("vector", "table"), 4), (Seq("key", "value", "key"), 5),
        (Seq("table"), 2))) {
        val direct = Search.nearSearch(docs, "doc_id", "text", terms, slop)
          .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
        val indexed = Search.nearSearchIndex(spark, dir, terms, slop)
          .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
        assert(direct == indexed, s"near $terms/$slop disagrees")
        assert(direct.nonEmpty || terms.contains("nosuch"))
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(dir))
    }
  }

  test("topTermsPerDoc surfaces the distinctive term first") {
    val corpus = Seq(
      (1L, "apple apple shared"),
      (2L, "shared banana")).toDF("id", "text")
    val res = Search.topTermsPerDoc(corpus, "id", "text", 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq
    val top1 = res.filter(r => r._1 == 1L && r._2 == 1).head._3
    val top2 = res.filter(r => r._1 == 2L && r._2 == 1).head._3
    assert(top1 == "apple" && top2 == "banana")
  }

  test("topTokens matches an exact groupBy count") {
    val expect = docs
      .select(explode(graft.ext.TextAnalysis.tokens(col("text"))).as("t"))
      .groupBy("t").count()
      .orderBy(col("count").desc, col("t")).limit(5)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val got = Search.topTokens(docs, "text", 5)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == expect)
  }

  test("freq sketch: exact regime equals the exact counts") {
    val exact = docs
      .select(explode(graft.ext.TextAnalysis.tokens(col("text"))).as("t"))
      .groupBy("t").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val sketch = docs
      .select(explode(graft.ext.TextAnalysis.tokens(col("text"))).as("t"))
      .agg(FreqSketch.freqSketch(col("t"), 4096).as("sk"))
      .select(explode(col("sk")).as("e"))
      .select(col("e.term"), col("e.est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sketch == exact)
  }

  test("freq sketch: Misra-Gries guarantee holds under partition merges") {
    val n = 40000L
    val cap = 16
    // 4 heavies at n/8 each, the rest a unique tail — repartition(7)
    // forces partial buffers to merge in a nondeterministic order
    val stream = spark.range(n).repartition(7).select(
      when(col("id") % 2 === 0,
          concat(lit("h"), floor((col("id") % 8) / 2).cast("long")))
        .otherwise(concat(lit("t"), col("id"))).as("term"))
    val heavies = stream.filter(col("term").startsWith("h"))
      .groupBy("term").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val sketch = stream.agg(FreqSketch.freqSketch(col("term"), cap).as("sk"))
      .select(explode(col("sk")).as("e"))
      .select(col("e.term"), col("e.est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sketch.size <= cap)
    val bound = n / (cap + 1)
    // every heavy (freq n/8 >> n/17) must be tracked, inside the band
    heavies.foreach { case (t, exact) =>
      assert(sketch.contains(t), s"heavy $t missing from sketch")
      val est = sketch(t)
      assert(est <= exact && est + bound >= exact,
        s"estimate $est outside [${exact - bound}, $exact] for $t")
    }
    // no estimate may exceed its true count (downward-biased only)
    val allExact = stream.groupBy("term").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    sketch.foreach { case (t, est) =>
      assert(est <= allExact(t), s"overestimate for $t")
    }
  }

  test("unicode normalization: NFC equates decomposed and precomposed") {
    import graft.ext.TextAnalysis
    val out = Seq("Cafe\u0301", "Caf\u00e9").toDF("t")
      .select(TextAnalysis.normalizeText(col("t")))
      .collect().map(_.getString(0))
    assert(out(0) == out(1) && out(0) == "Caf\u00e9")
    val nfd = Seq("Caf\u00e9").toDF("t")
      .select(TextAnalysis.normalizeText(col("t"), "NFD"))
      .head.getString(0)
    assert(nfd == "Cafe\u0301")
    // NFKC also folds compatibility forms (ﬁ ligature → fi)
    val nfkc = Seq("\ufb01ne").toDF("t")
      .select(TextAnalysis.normalizeText(col("t"), "NFKC"))
      .head.getString(0)
    assert(nfkc == "fine")
    val n = Seq(null.asInstanceOf[String]).toDF("t")
      .select(TextAnalysis.normalizeText(col("t"))).head
    assert(n.isNullAt(0))
    // canonicalization makes the dedup fingerprint agree
    val fps = Seq("Cafe\u0301 x", "Caf\u00e9 x").toDF("t")
      .select(TextAnalysis.fingerprint(
        TextAnalysis.normalizeText(col("t"))))
      .collect().map(_.getString(0))
    assert(fps(0) == fps(1))
  }

  test("fold_accents strips marks, keeps base letters") {
    import graft.ext.TextAnalysis
    val out = Seq("Caf\u00e9 Z\u00fcrich naïve", "plain ascii")
      .toDF("t").select(TextAnalysis.foldAccents(col("t")))
      .collect().map(_.getString(0))
    assert(out.toSeq == Seq("Cafe Zurich naive", "plain ascii"))
  }

  test("bm25 conjunctive mode: only all-term docs rank, scores unchanged") {
    import graft.ext.Search
    val docs = Seq(
      (1L, "spark joins the batch"),      // "spark" yes, "joins" != "join"
      (2L, "spark join spark join here"), // both
      (3L, "spark only here"),            // one
      (4L, "join only here"),             // one
      (5L, "neither word present")).toDF("doc_id", "text")
    val both = Search.bm25Search(docs, "doc_id", "text",
      Seq("spark", "join"), 10, requireAll = true)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(both.map(_._1).toSeq == Seq(2L))
    val any = Search.bm25Search(docs, "doc_id", "text",
      Seq("spark", "join"), 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    // conjunctive hits keep their disjunctive scores (same stats)
    assert(both.forall { case (id, s) => any(id) == s })
    assert(any.keySet == Set(1L, 2L, 3L, 4L))
  }

  test("strip_html extracts visible text") {
    import graft.ext.TextAnalysis
    def strip(s: String): String =
      Seq(s).toDF("t").select(TextAnalysis.stripHtml(col("t")))
        .head.getString(0)
    // tags become word separators; comments and script/style content
    // (incl. a '<' inside code) vanish entirely
    assert(strip("<html><body><h1>Title</h1><p>a<br>b</p>" +
      "<script>if (1 < 2) { x(); }</script>" +
      "<style>p { color: red; }</style>" +
      "<!-- hidden\nnote --></body></html>") == "Title a b")
    // entities decode AFTER tag stripping; &amp; decodes LAST so
    // "&amp;lt;" yields the literal "&lt;" the author wrote
    assert(strip("<p>Tom &amp; Jerry: 1 &lt; 2, &amp;lt; stays," +
      " &#39;q&#39;&nbsp;end</p>") ==
      "Tom & Jerry: 1 < 2, &lt; stays, 'q' end")
    // stray prose comparisons are NOT tags; attributes are dropped
    assert(strip("x < y and y > z <a href=\"u\">link</a>") ==
      "x < y and y > z link")
    // malformed input degrades to whitespace, never errors
    assert(strip("a <b unclosed") == "a <b unclosed")
    assert(strip("") == "")
    val n = Seq(null.asInstanceOf[String]).toDF("t")
      .select(TextAnalysis.stripHtml(col("t"))).head
    assert(n.isNullAt(0))
  }

  test("url domain extraction") {
    import graft.ext.TextAnalysis
    val out = Seq("see https://a.example.org/x and http://b.io, done",
        "no urls here").toDF("t")
      .select(TextAnalysis.urlDomains(col("t")))
      .collect().map(_.getSeq[String](0))
    assert(out(0) == Seq("a.example.org", "b.io"))
    assert(out(1).isEmpty)
  }

  test("freq sketch: nulls ignored, empty input yields empty array") {
    val out = Seq(Some("a"), None, Some("a"), Some("b")).toDF("t")
      .agg(FreqSketch.freqSketch(col("t"), 8).as("sk"))
      .select(explode(col("sk")).as("e"))
      .select(col("e.term"), col("e.est"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(out == Seq(("a", 2L), ("b", 1L)))
    val empty = spark.range(0).select(col("id").cast("string").as("t"))
      .agg(FreqSketch.freqSketch(col("t"), 8).as("sk"))
      .select(size(col("sk"))).collect().head.getInt(0)
    assert(empty == 0)
  }
}
