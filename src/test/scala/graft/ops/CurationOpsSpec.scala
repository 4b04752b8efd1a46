package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Specs for the corpus-curation ops added in round 7: exact-substring span
  * coverage, incremental batch-vs-corpus dedup, curriculum binning.
  */
class CurationOpsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession
    .builder()
    .master("local[4]")
    .appName("curation-ops-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"
  private def docs = spark.read.parquet(s"$sf/documents.parquet")

  test("mixtureResample: copy counts follow the weight arithmetic; explode is map-side") {
    import spark.implicits._
    // two sources, 4:1 token imbalance -> weights 625/2500 milli against a
    // target of (40+10)/2 = 25 tokens per source
    val d = Seq(
      (1L, "a", ("t " * 20).trim), (2L, "a", ("t " * 20).trim),
      (3L, "b", ("t " * 5).trim), (4L, "b", ("t " * 5).trim)
    ).toDF("doc_id", "source", "text")
    val out = Sampling.mixtureResample(d, "doc_id", "text", "source")
      .collect().map(r => r.getString(0) -> r).toMap
    // replicate the engine's bucket to derive expected copies exactly
    val b = d.select($"doc_id", Sampling.md5Bucket($"doc_id", 1000).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // source a: wm = round(1000*50/(2*40)) = 625 -> copies = (b<625)
    val aCopies = Seq(1L, 2L).map(id => if (b(id) < 625) 1L else 0L).sum
    // source b: wm = round(1000*50/(2*10)) = 2500 -> 2 + (b<500)
    val bCopies = Seq(3L, 4L).map(id => 2L + (if (b(id) < 500) 1L else 0L)).sum
    if (aCopies > 0) {
      assert(out("a").getLong(1) == aCopies)
      assert(out("a").getLong(2) == aCopies * 20)
    } else assert(!out.contains("a"))
    assert(out("b").getLong(1) == bCopies && out("b").getLong(2) == bCopies * 5)
    assert(out("b").getLong(3) == 25L, "target = floor(total/k)")
    // partition invariance (the determinism a backfill depends on)
    val again = Sampling.mixtureResample(d.repartition(3), "doc_id", "text", "source")
      .collect().map(_.toString).toSet
    assert(again == Sampling.mixtureResample(d, "doc_id", "text", "source")
      .collect().map(_.toString).toSet)
    // plan: the doc-stream join must be a broadcast hash join on source and
    // the fan-out a Generate (map-side explode) — no sort-merge of the docs
    val plan = Sampling.mixtureResample(docs, "doc_id", "text", "source")
      .queryExecution.executedPlan.toString
    assert(plan.contains("Generate explode"), "copy fan-out must be a map-side explode")
    assert(plan.contains("BroadcastHashJoin"), "weights must broadcast onto the doc stream")
  }

  test("dsirSelect: weights match an independent re-derivation, target-like docs rank first") {
    import spark.implicits._
    // target docs speak pure "alpha"; raw background speaks pure "beta";
    // one probe doc of each dialect is NOT in the target set — the alpha
    // probe must out-weight the beta probe.
    val d = (
      (1L to 4L).map(i => (i, "en", "alpha bravo alpha bravo alpha")) ++
      (5L to 8L).map(i => (i, "de", "omega zulu omega zulu omega")) ++
      Seq((9L, "de", "alpha bravo alpha bravo alpha"),
          (10L, "de", "omega zulu omega zulu omega"))
    ).toDF("doc_id", "lang", "text")
    val m = 64
    val out = Dsir.dsirSelect(d, "doc_id", "text", $"lang" === "en", m, 10)
      .collect().map(r => r.getLong(0) -> r).toMap
    // independent weight re-derivation: same formula, computed from scratch
    // in Scala over collected feature buckets
    val feats = d.select($"doc_id", ($"lang" === "en").as("t"),
        TextAnalysis.tokens($"text").as("toks"))
      .select($"doc_id", $"t", explode(Dsir.features($"toks")).as("f"))
      .select($"doc_id", $"t", Sampling.md5Bucket($"f", m).as("b"))
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2)))
    val cRaw = feats.groupBy(_._3).view.mapValues(_.size.toLong).toMap
    val cTgt = feats.filter(_._2).groupBy(_._3).view.mapValues(_.size.toLong).toMap
    val (nRaw, nTgt) = (feats.size.toLong, feats.count(_._2).toLong)
    def delta(b: Long): Long =
      math.round(1e6 * (math.log((cTgt.getOrElse(b, 0L) + 1.0) / (nTgt + m))
                      - math.log((cRaw(b) + 1.0) / (nRaw + m))))
    val expect = feats.groupBy(_._1).view.mapValues(fs => fs.map(f => delta(f._3)).sum).toMap
    for ((id, row) <- out) assert(row.getLong(2) == expect(id), s"lw_sum for doc $id")
    // the alpha-dialect probe must carry a strictly higher weight than beta's
    assert(expect(9L) > expect(10L), "target-like doc must out-weight background doc")
    // partition invariance: identical selection under a different layout
    val again = Dsir.dsirSelect(d.repartition(3), "doc_id", "text", $"lang" === "en", m, 10)
      .collect().map(_.toString).toList
    assert(again == Dsir.dsirSelect(d, "doc_id", "text", $"lang" === "en", m, 10)
      .collect().map(_.toString).toList)
    // plan: the m-row delta table broadcasts onto the feature stream and the
    // final top-k is a TakeOrdered, never a global sort
    val plan = Dsir.dsirSelect(docs, "doc_id", "text", col("lang") === "en", 1024, 100)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), "delta table must broadcast")
    assert(plan.contains("TakeOrderedAndProject"), "top-k must be a TakeOrdered")
    // the corpus-scale fastHash path (xxhash64 buckets): same arithmetic,
    // same determinism guarantees; only bucket assignment differs
    val fast = Dsir.dsirSelect(d, "doc_id", "text", $"lang" === "en", m, 10, fastHash = true)
      .collect().map(_.toString).toList
    val fastAgain = Dsir.dsirSelect(d.repartition(5), "doc_id", "text", $"lang" === "en", m, 10,
        fastHash = true)
      .collect().map(_.toString).toList
    assert(fast == fastAgain, "fastHash selection must be layout-invariant")
    assert(fast.size == 10)
  }

  test("dupSpanCoverage: a full copy is 100% covered, a planted 8-token splice is found") {
    import spark.implicits._
    val base = docs.filter(size(split($"text", " ")) >= 30)
    // doc A: full copy of doc 0's text under a new id -> dup_ratio_milli = 1000
    val donorRow = base.select($"doc_id", $"text").orderBy($"doc_id").head()
    val donorId = donorRow.getLong(0)
    val donorText = donorRow.getString(1)
    // trim first: leading whitespace would make split emit a leading empty
    // token that Spans' split(trim(text)) tokenization never produces
    val splice = donorText.trim.split("\\s+").take(8).mkString(" ")
    val planted = Seq(
      (200001L, donorText),
      // doc B: 8 tokens from the donor spliced between unique sentinels
      (200002L, s"zqx1 zqx2 zqx3 $splice zqx4 zqx5 zqx6")
    ).toDF("doc_id", "text")
    val all = docs.select($"doc_id", $"text").unionByName(planted)
    val cov = Spans.dupSpanCoverage(all, "doc_id", "text", k = 8)
    val byDoc = cov.collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(byDoc(200001L)._2 == 1000L, s"full copy should be fully covered: ${byDoc.get(200001L)}")
    assert(byDoc(donorId)._2 == 1000L, "the donor is itself fully duplicated by the copy")
    assert(byDoc(200002L)._1 == 8L, s"splice doc must have exactly the 8 spliced tokens covered: ${byDoc.get(200002L)}")
    // sentinel-only docs never appear
    assert(!byDoc.contains(-1L))
  }

  test("dupSpanCoverage: within-doc repetition alone does not count as duplication") {
    import spark.implicits._
    val rep = ("r1 r2 r3 r4 r5 r6 r7 r8 " * 4).trim // same 8-gram repeats within one doc
    val one = Seq((1L, rep), (2L, "only unique words appear in this second document here"))
      .toDF("doc_id", "text")
    assert(Spans.dupSpanCoverage(one, "doc_id", "text", k = 8).count() == 0)
  }

  test("removeDupSpans: splices the shared run out, keeps unique text, honors minRunTokens") {
    import spark.implicits._
    val shared = (1 to 20).map(i => s"s$i").mkString(" ")
    val aText = (1 to 10).map(i => s"a$i").mkString(" ") + " " + shared + " " +
      (1 to 10).map(i => s"b$i").mkString(" ")
    val bText = (1 to 5).map(i => s"c$i").mkString(" ") + " " + shared + " " +
      (1 to 5).map(i => s"d$i").mkString(" ")
    val two = Seq((1L, aText), (2L, bText)).toDF("doc_id", "text")
    val out = Spans.removeDupSpans(two, "doc_id", "text", k = 8, minRunTokens = 12)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(out.keySet == Set(1L, 2L))
    assert(out(1L)._1 == 40L && out(1L)._2 == 20L, s"doc 1: ${out(1L)}")
    assert(out(2L)._1 == 30L && out(2L)._2 == 20L, s"doc 2: ${out(2L)}")
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val cleanA = (1 to 10).map(i => s"a$i").mkString(" ") + " " +
      (1 to 10).map(i => s"b$i").mkString(" ")
    val cleanB = (1 to 5).map(i => s"c$i").mkString(" ") + " " +
      (1 to 5).map(i => s"d$i").mkString(" ")
    assert(out(1L)._3 == md5hex(cleanA), "doc 1 cleaned text mismatch")
    assert(out(2L)._3 == md5hex(cleanB), "doc 2 cleaned text mismatch")
    // a 10-token shared run is found but its merged interval (10 tokens)
    // stays below minRunTokens=12 -> nothing is rewritten
    val short = (1 to 10).map(i => s"t$i").mkString(" ")
    val twoShort = Seq(
      (1L, "e1 e2 e3 e4 e5 e6 e7 e8 " + short),
      (2L, "f1 f2 f3 f4 f5 f6 f7 f8 " + short)).toDF("doc_id", "text")
    assert(Spans.removeDupSpans(twoShort, "doc_id", "text", k = 8, minRunTokens = 12).count() == 0)
    // ... and the same corpus with minRunTokens=10 rewrites both docs
    val loose = Spans.removeDupSpans(twoShort, "doc_id", "text", k = 8, minRunTokens = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(loose == Map(1L -> 10L, 2L -> 10L), s"$loose")
  }

  test("removeDupSpans: a full copy rewrites to the empty string") {
    import spark.implicits._
    val t = (1 to 30).map(i => s"w$i").mkString(" ")
    val pair = Seq((1L, t), (2L, t)).toDF("doc_id", "text")
    val out = Spans.removeDupSpans(pair, "doc_id", "text", k = 8, minRunTokens = 12)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getString(3))).toMap
    // md5("") — both docs fully removed
    assert(out == Map(
      1L -> ((30L, "d41d8cd98f00b204e9800998ecf8427e")),
      2L -> ((30L, "d41d8cd98f00b204e9800998ecf8427e"))))
  }

  test("removeDupSpansVarK: long quote is one seed-backed island; stitched islands are kept") {
    import spark.implicits._
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    // (a) a 40-token verbatim quote shared between two docs: seed-backed at
    // kSeed=24, spliced out with exact boundaries from the kExt=8 islands
    val quote = (1 to 40).map(i => s"q$i").mkString(" ")
    val a = (1 to 10).map(i => s"a$i").mkString(" ") + " " + quote + " " +
      (1 to 10).map(i => s"b$i").mkString(" ")
    val b = (1 to 6).map(i => s"c$i").mkString(" ") + " " + quote
    val pair = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val out = Spans.removeDupSpansVarK(pair, "doc_id", "text", kSeed = 24, kExt = 8,
        minRunTokens = 12)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(out.keySet == Set(1L, 2L))
    assert(out(1L) == ((60L, 40L, md5hex(
      (1 to 10).map(i => s"a$i").mkString(" ") + " " + (1 to 10).map(i => s"b$i").mkString(" ")))))
    assert(out(2L) == ((46L, 40L, md5hex((1 to 6).map(i => s"c$i").mkString(" ")))))
    // (b) a STITCHED island: doc 10 shares DIFFERENT disjoint 10-token runs
    // with two different partners, run-length merged into one >=20-token
    // island at kExt=8 — but no 24-token window is shared with any single
    // doc, so var-k keeps the doc while fixed-k would rewrite it
    val r1 = (1 to 10).map(i => s"x$i").mkString(" ")
    val r2 = (1 to 10).map(i => s"y$i").mkString(" ")
    val stitched = Seq(
      (10L, r1 + " " + r2), // r1 and r2 adjacent: islands merge at k=8
      (11L, (1 to 8).map(i => s"p$i").mkString(" ") + " " + r1),
      (12L, r2 + " " + (1 to 8).map(i => s"r$i").mkString(" "))
    ).toDF("doc_id", "text")
    val fixed = Spans.removeDupSpans(stitched, "doc_id", "text", k = 8, minRunTokens = 12)
      .collect().map(_.getLong(0)).toSet
    assert(fixed.contains(10L), "fixed-k rewrites the stitched doc (the false merge)")
    val varK = Spans.removeDupSpansVarK(stitched, "doc_id", "text", kSeed = 24, kExt = 8,
        minRunTokens = 12)
      .collect().map(_.getLong(0)).toSet
    assert(!varK.contains(10L), "var-k must keep the stitched doc: no 24-token witness")
    // (c) full copy still rewrites to empty under var-k (whole-doc seed)
    val t = (1 to 30).map(i => s"w$i").mkString(" ")
    val copy = Seq((1L, t), (2L, t)).toDF("doc_id", "text")
    val co = Spans.removeDupSpansVarK(copy, "doc_id", "text", 24, 8, 12)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(co == Map(1L -> "d41d8cd98f00b204e9800998ecf8427e",
      2L -> "d41d8cd98f00b204e9800998ecf8427e"))
  }

  test("removeDupSpansVarK: exchange fallback past the hot-set cap is value-identical") {
    // hotBroadcastMaxKeys = 0 forces the over-cap path (driver collect
    // refused, exchange plan used) on the same corpus; results must match
    // the broadcast plan row-for-row — the cap is a resource guard, not a
    // semantics knob
    val corpus = docs.limit(300)
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, String)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    val viaBroadcast = rows(
      Spans.removeDupSpansVarK(corpus, "doc_id", "text", kSeed = 24, kExt = 8, minRunTokens = 12))
    val viaExchange = rows(
      Spans.removeDupSpansVarK(corpus, "doc_id", "text", kSeed = 24, kExt = 8, minRunTokens = 12,
        hotBroadcastMaxKeys = 0L))
    assert(viaBroadcast == viaExchange)
    assert(viaBroadcast.nonEmpty, "corpus should contain at least one rewritten doc")
  }

  test("removeDupSpansVarK: the bounded hot-key collect switches plans exactly at the cap") {
    // a cap equal to the larger hot set keeps both sets on the broadcast
    // path; one key less sends the op to the exchange plan. Both must equal
    // the default run.
    val corpus = docs.limit(300)
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, String)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    val default = rows(
      Spans.removeDupSpansVarK(corpus, "doc_id", "text", kSeed = 24, kExt = 8, minRunTokens = 12))
    def varK(cap: Long) = rows(Spans.removeDupSpansVarK(corpus, "doc_id", "text",
      kSeed = 24, kExt = 8, minRunTokens = 12, hotBroadcastMaxKeys = cap))
    val extPosts = Spans.spanPostings(corpus, "doc_id", "text", 8)
    val seedPosts = Spans.seedPostings(corpus, "doc_id", "text", 24, 8, 8)
    val nExt = Spans.hotKeyPlan(extPosts).count()
    val nSeed = Spans.hotKeyPlan(seedPosts).count()
    val cap = math.max(nExt, nSeed)
    assert(cap > 0, "corpus should share spans")
    val big = if (nExt >= nSeed) extPosts else seedPosts
    assert(Spans.hotKeysOrPlan(big, "at cap", cap).toOption.map(_.length).contains(cap))
    assert(Spans.hotKeysOrPlan(big, "under cap", cap - 1).isLeft)
    assert(default.nonEmpty, "corpus should contain at least one rewritten doc")
    assert(varK(cap) == default)
    assert(varK(cap - 1) == default)
  }

  test("crossNearDupPairs finds planted batch-vs-corpus near-dups and nothing within a set") {
    import spark.implicits._
    val corpus = docs.filter(size(split($"text", " ")) >= 20)
    val batch = corpus
      .limit(20)
      .select(($"doc_id" + 500000).as("doc_id"),
        concat_ws(" ", slice(split($"text", " "), lit(1), size(split($"text", " ")) - 1)).as("text"),
        $"lang", $"source", $"n_chars")
    val n = batch.count()
    val pairs = Incremental.crossNearDupPairs(batch, corpus, "doc_id", "text", 0.5)
    assert(pairs.filter($"d_new" < 500000).count() == 0, "d_new must come from the batch side")
    assert(pairs.filter($"d_corp" >= 500000).count() == 0, "d_corp must come from the corpus side")
    val found = pairs.filter($"d_new" - $"d_corp" === 500000).count()
    assert(found >= n * 0.8, s"found $found of $n planted cross near-dups")
  }

  test("steady-state admission equals the recompute path through a parquet signature round-trip") {
    import spark.implicits._
    val isBatch = $"doc_id" % 5 === 4
    val corp = docs.filter(!isBatch)
    val batch = docs.filter(isBatch)
    val dir = java.nio.file.Files.createTempDirectory("sigtable").toString + "/sigs"
    val sigs = Incremental.ensureSignatureTable(spark, corp, "doc_id", "text", dir)
    // the index really round-tripped through parquet
    assert(new java.io.File(dir, "_SUCCESS").exists())
    assert(sigs.columns.toSet == Set("doc", "digest", "sig", "shingles"))
    assert(sigs.count() == corp.count())
    val steady = Incremental.batchStatusSteady(batch, sigs, "doc_id", "text", 0.5)
    val full = Incremental.batchStatus(batch, corp, "doc_id", "text", 0.5)
    assert(steady.except(full).count() == 0 && full.except(steady).count() == 0,
      "steady-state statuses must be value-identical to the recompute path")
    // stale-table guard: a different corpus EXPRESSION (fingerprint covers
    // the canonicalized plan) is rebuilt, not silently reused
    val smaller = Incremental.ensureSignatureTable(spark, corp.limit(10), "doc_id", "text", dir)
    assert(smaller.count() == 10)
  }

  test("signature table freshness is metadata-judged: reuse is corpus-scan-free, regeneration rebuilds") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("sigfp").toString
    val corpusPath = s"$base/corpus.parquet"
    val sigPath = s"$base/sigs"
    docs.limit(40).write.parquet(corpusPath)
    def corpus = spark.read.parquet(corpusPath)
    Incremental.ensureSignatureTable(spark, corpus, "doc_id", "text", sigPath)
    def tableStamp() = new java.io.File(sigPath).listFiles()
      .filter(_.getName.startsWith("part-")).map(f => f.getName -> f.lastModified).toMap
    val stamp1 = tableStamp()
    // unchanged corpus: the SAME stored table is reused (no rewrite) and the
    // freshness probe never scans corpus DATA — schema-inference footer jobs
    // are fine, row reads are not
    val recordsRead = new java.util.concurrent.atomic.AtomicLong()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          recordsRead.addAndGet(t.taskMetrics.inputMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      Incremental.ensureSignatureTable(spark, corpus, "doc_id", "text", sigPath)
      // bounded poll for the async listener bus: a fixed short sleep is
      // load-sensitive (the r7 contention lesson) — wait until the counter
      // is stable across two polls, up to 10 s
      var last = -1L
      var waited = 0
      while (waited < 10000 && recordsRead.get() != last) {
        last = recordsRead.get()
        Thread.sleep(250)
        waited += 250
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(tableStamp() == stamp1, "unchanged corpus must reuse the stored table")
    assert(recordsRead.get() == 0,
      s"freshness probe read ${recordsRead.get()} records; must be metadata-only")
    // REGENERATED corpus (same row count, different bytes/mtime): rebuilt
    Thread.sleep(1100) // mtime granularity
    docs.limit(40).withColumn("text", concat($"text", lit(" regen")))
      .write.mode("overwrite").parquet(corpusPath)
    Incremental.ensureSignatureTable(spark, corpus, "doc_id", "text", sigPath)
    assert(tableStamp() != stamp1, "regenerated corpus must rebuild the signature table")
  }

  test("batchStatus: exact beats near, unrelated text is novel") {
    import spark.implicits._
    val corpus = docs.filter(size(split($"text", " ")) >= 20).limit(50)
      .select($"doc_id", $"text").localCheckpoint()
    val rows = corpus.limit(3).collect()
    val exactCopy = (600001L, rows(0).getString(1))
    val perturbed = (600002L, rows(1).getString(1).split("\\s+").dropRight(1).mkString(" "))
    val novel = (600003L, "wholly unrelated sentinel tokens qa qb qc qd qe qf qg qh qi qj")
    val batch = Seq(exactCopy, perturbed, novel).toDF("doc_id", "text")
    val st = Incremental.batchStatus(batch, corpus, "doc_id", "text", 0.5)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(st(600001L) == "exact_dup")
    assert(st(600002L) == "near_dup")
    assert(st(600003L) == "novel")
  }

  test("qualityCurriculum: equal-population tiers with monotonically falling quality ranges") {
    val bins = Packing.qualityCurriculum(docs, "doc_id", "text", nBins = 10)
      .orderBy(col("bin")).collect()
    assert(bins.map(_.getLong(0)).toSeq == (0L until 10L), "all 10 bins present")
    val total = docs.count()
    assert(bins.map(_.getLong(1)).sum == total, "every doc lands in exactly one bin")
    val sizes = bins.map(_.getLong(1))
    assert(sizes.max - sizes.min <= 1, s"equal population +-1: ${sizes.mkString(",")}")
    // bin b's worst quality is still >= bin b+1's best quality
    bins.sliding(2).foreach { case Array(hi, lo) =>
      assert(hi.getLong(3) >= lo.getLong(4),
        s"bin ${hi.getLong(0)} q_min ${hi.getLong(3)} < bin ${lo.getLong(0)} q_max ${lo.getLong(4)}")
    }
  }

  test("domainCapSample: per-source cap, conservation, and agreement with the naive rank") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val cap = 10
    val res = Sampling.domainCapSample(docs, "doc_id", "text", "source", cap)
      .orderBy($"source").collect()
    assert(res.nonEmpty)
    res.foreach { r =>
      assert(r.getLong(3) == math.min(cap.toLong, r.getLong(1)),
        s"${r.getString(0)}: n_kept must be min(cap, n_docs)")
      assert(r.getLong(4) <= r.getLong(2), "kept tokens cannot exceed total tokens")
    }
    // independent naive formulation: one window over ALL rows, kept flag
    // aggregated in place (no totals/kept split) — must agree exactly
    val scored = docs.select(
      $"source", $"doc_id".as("doc"),
      size(TextAnalysis.tokens($"text")).cast("long").as("n_tokens"),
      TextAnalysis.qualityScore($"text").cast("long").as("quality"))
    val naiveWin = Window.partitionBy($"source").orderBy($"quality".desc, $"doc")
    val naive = scored
      .withColumn("kept", row_number().over(naiveWin) <= cap)
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("total_tokens"),
        sum(when($"kept", 1L).otherwise(0L)).as("n_kept"),
        sum(when($"kept", $"n_tokens").otherwise(0L)).as("kept_tokens"),
        min(when($"kept", $"quality")).as("q_floor"))
      .orderBy($"source").collect()
    assert(res.map(_.toSeq).toSeq == naive.map(_.toSeq).toSeq,
      "split totals/kept formulation must equal the naive single-window one")
  }

  test("domainCapSample: rank input is top-k-limited map-side (WindowGroupLimit)") {
    val plan = Sampling.domainCapSample(docs, "doc_id", "text", "source", 10)
      .queryExecution.executedPlan.toString
    val wgl = plan.linesIterator.filter(_.contains("WindowGroupLimit")).toSeq
    // the Partial node is the one that caps rows BEFORE the rank exchange —
    // a Final-only plan would ship whole hot-domain posting lists again
    assert(wgl.exists(_.contains("Partial")),
      s"expected a map-side (Partial) per-group limit before the rank exchange:\n$plan")
    assert(wgl.exists(_.contains("Final")),
      s"expected the reduce-side (Final) per-group limit:\n$plan")
  }
}
