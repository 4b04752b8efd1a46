package graft.ops

import graft.functions.VectorFunctions._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class OpsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession
    .builder()
    .master("local[4]")
    .appName("ops-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"
  private def docs = spark.read.parquet(s"$sf/documents.parquet")
  private def emb = spark.read.parquet(s"$sf/embeddings.parquet")

  test("exactDedup removes planted duplicates, keeps min tiebreaker") {
    import spark.implicits._
    val dupes = docs.limit(50).withColumn("doc_id", $"doc_id" + 100000)
    val withDupes = docs.unionByName(dupes)
    val out = Dedup.exactDedup(withDupes, Seq("text"), "doc_id")
    assert(out.count() == docs.count())
    // min doc_id survived: no id >= 100000 for duplicated texts
    assert(out.filter($"doc_id" >= 100000).count() == 0)
  }

  test("minhash LSH finds planted near-duplicates") {
    import spark.implicits._
    // perturb: drop only the last word — shingle-set jaccard stays near 1
    val perturbed = docs
      .limit(30)
      .filter(size(split($"text", " ")) >= 20)
      .select(
        ($"doc_id" + 100000).as("doc_id"),
        concat_ws(" ", slice(split($"text", " "), lit(1), size(split($"text", " ")) - 1)).as("text"),
        $"lang", $"source", $"n_chars"
      )
    val nPlanted = perturbed.count()
    assert(nPlanted > 5, s"need planted docs, got $nPlanted")
    val all = docs.unionByName(perturbed)
    val pairs = Dedup.nearDupPairs(all, "doc_id", "text", 0.5)
    val found = pairs
      .filter(($"d2" - $"d1") === 100000)
      .count()
    assert(found >= nPlanted * 0.8, s"found $found of $nPlanted planted near-dups")
  }

  test("simhash: near-identical docs have small hamming distance") {
    import spark.implicits._
    val perturbed = docs
      .limit(20)
      .select(($"doc_id" + 100000).as("doc_id"),
        concat($"text", lit(" extra")).as("text"), $"lang", $"source", $"n_chars")
    val all = docs.unionByName(perturbed)
    val sigs = Dedup.simHash(all, "doc_id", "text")
    val joined = sigs.as("a")
      .join(sigs.as("b"), col("b.doc") === col("a.doc") + 100000)
      .select(Dedup.hammingDistance(col("a.simhash"), col("b.simhash")).as("hd"))
      .as[Long].collect()
    assert(joined.length == 20)
    assert(joined.count(_ <= 12) >= 16, s"hamming distances: ${joined.mkString(",")}")
    // unrelated docs should usually be far apart
    val cross = sigs.as("a").join(sigs.as("b"), col("a.doc") + 7 === col("b.doc"))
      .select(Dedup.hammingDistance(col("a.simhash"), col("b.simhash")).as("hd"))
      .as[Long].collect()
    assert(cross.count(_ > 12) > cross.length / 2)
  }

  test("duplicateClusters: transitive chains collapse to one component") {
    import spark.implicits._
    val pairs = Seq((1L, 2L, 1.0), (2L, 3L, 1.0), (3L, 4L, 1.0), (10L, 11L, 1.0))
      .toDF("d1", "d2", "jaccard")
    val comp = Dedup.duplicateClusters(pairs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L).map(comp) == Seq(1L, 1L, 1L, 1L))
    assert(Seq(10L, 11L).map(comp) == Seq(10L, 10L))
  }

  private def comps(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** `body` with the CC driver-path cap at one edge: every non-empty edge
    * set takes the label-propagation loop.
    */
  private def withForcedCcLoop[T](body: => T): T = {
    spark.conf.set("spark.graft.cc.rowsPerPartition", "1")
    try body
    finally spark.conf.unset("spark.graft.cc.rowsPerPartition")
  }

  test("duplicateClusters with reliable checkpointing matches local-checkpoint result") {
    import spark.implicits._
    val ckDir = java.nio.file.Files.createTempDirectory("ccck").toString
    spark.sparkContext.setCheckpointDir(ckDir)
    val pairs = Seq((1L, 2L, 1.0), (2L, 3L, 1.0), (5L, 6L, 1.0), (6L, 7L, 1.0), (7L, 8L, 1.0))
      .toDF("d1", "d2", "jaccard")
    val (local, reliable) = withForcedCcLoop(
      (comps(Dedup.duplicateClusters(pairs)),
        comps(Dedup.duplicateClusters(pairs, reliableCheckpoint = true))))
    assert(reliable == local)
    assert(reliable(3L) == 1L && reliable(8L) == 5L)
    // checkpoint FILES were actually written (executor-loss survivable
    // state), and superseded iterations were deleted — only the final
    // labels checkpoint may remain (Spark never cleans these itself)
    val rddDirs = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles.toSeq.flatMap(walk) :+ f else Seq(f)
      walk(new java.io.File(ckDir)).filter(f => f.isDirectory && f.getName.startsWith("rdd-"))
    }
    assert(rddDirs.nonEmpty, "reliable checkpoint must write to the checkpoint dir")
    assert(rddDirs.length == 1, s"superseded checkpoints must be deleted, found ${rddDirs.map(_.getName)}")
  }

  test("duplicateClusters: driver union-find equals the forced label-propagation loop") {
    import spark.implicits._
    // random graphs whose components have at most 8 docs (diameter ≤ 7, under
    // the default maxIter = 10, so the loop converges); sparse ids, random
    // extra edges, some reversed (d1 > d2) and some repeated
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      val ids = rnd.shuffle((1 to 2000).map(_.toLong * 37 + rnd.nextInt(37)).distinct).take(300)
      val groups = scala.collection.mutable.ArrayBuffer.empty[Seq[Long]]
      var rest = ids
      while (rest.nonEmpty) {
        val (g, tail) = rest.splitAt(1 + rnd.nextInt(8))
        groups += g
        rest = tail
      }
      val pairs = groups.toSeq.filter(_.size > 1).flatMap { g =>
        val tree = (1 until g.size).map(i => (g(rnd.nextInt(i)), g(i)))
        val extra = Seq.fill(rnd.nextInt(3))((g(rnd.nextInt(g.size)), g(rnd.nextInt(g.size))))
        (tree ++ extra).map { case (a, b) => if (rnd.nextBoolean()) (a, b) else (b, a) }
      }
      val df = (pairs ++ pairs.take(5)).map { case (a, b) => (a, b, 1.0) }.toDF("d1", "d2", "jaccard")
      val driver = comps(Dedup.duplicateClusters(df))
      val loop = withForcedCcLoop(comps(Dedup.duplicateClusters(df)))
      assert(driver == loop, s"seed $seed")
      val expected = groups.toSeq.filter(_.size > 1).flatMap(g => g.map(_ -> g.min)).toMap
      assert(driver == expected, s"seed $seed")
    }
  }

  test("duplicateClusters: a checkpointed pairs frame is counted and collected by one job") {
    import spark.implicits._
    val rows = (1L to 200L).map(i => (i, i + 1000L, 1.0))
    val expected = rows.flatMap { case (a, b, _) => Seq(a -> a, b -> a) }.toMap
    val even = rows.toDF("d1", "d2", "jaccard").repartition(4).localCheckpoint(true)
    var out: org.apache.spark.sql.DataFrame = null
    assert(graft.JobCount.jobsOf(spark) { out = Dedup.duplicateClusters(even) } == 1)
    assert(comps(out) == expected)
    // every row in one of 4 partitions: a 1 000-edge cap gives each 250
    // longs, under its 400 and over nothing else, so that partition is
    // collected by one more job
    val empty = spark.createDataFrame(spark.sparkContext.parallelize(Seq.empty[org.apache.spark.sql.Row], 3),
      even.schema)
    val skewed = rows.toDF("d1", "d2", "jaccard").coalesce(1).union(empty).localCheckpoint(true)
    assert(skewed.rdd.getNumPartitions == 4)
    spark.conf.set("spark.graft.cc.rowsPerPartition", "1000")
    try assert(graft.JobCount.jobsOf(spark) { out = Dedup.duplicateClusters(skewed) } == 2)
    finally spark.conf.unset("spark.graft.cc.rowsPerPartition")
    assert(comps(out) == expected)
  }

  test("duplicateClusters: a 12-doc chain is one component, as in the recursive-CTE oracle") {
    import spark.implicits._
    val pairs = (1L to 11L).map(i => (i, i + 1, 1.0)).toDF("d1", "d2", "jaccard")
    pairs.createOrReplaceTempView("cc_chain_pairs")
    // the reach/comp part of the DuckDB oracle (Dedup.componentsSqlPrefix).
    // Spark's recursive CTEs take only UNION ALL, so walks are bounded at 11
    // hops, the longest shortest path among 12 docs: same reach set.
    val oracle = comps(spark.sql(
      """WITH RECURSIVE edges AS (
        |  SELECT d1 AS a, d2 AS b FROM cc_chain_pairs UNION SELECT d2, d1 FROM cc_chain_pairs
        |), reach(a, b, hops) AS (
        |  SELECT a, b, 1 FROM edges
        |  UNION ALL
        |  SELECT r.a, e.b, r.hops + 1 FROM reach r JOIN edges e ON r.b = e.a WHERE r.hops < 11
        |)
        |SELECT a AS doc, LEAST(a, MIN(b)) AS comp FROM reach GROUP BY a""".stripMargin))
    assert(oracle == (1L to 12L).map(_ -> 1L).toMap)
    assert(comps(Dedup.duplicateClusters(pairs)) == oracle)
    // the loop moves a label one hop per iteration: doc 12 is 11 hops from
    // doc 1, so maxIter = 10 truncates it at doc 2's label
    val loop = withForcedCcLoop(comps(Dedup.duplicateClusters(pairs)))
    assert(loop(12L) == 2L && (1L to 11L).forall(loop(_) == 1L))
  }

  test("vec_cosine expression matches built-in computation and is codegen'd") {
    import spark.implicits._
    val two = emb.limit(2).collect()
    val a = two(0).getSeq[Float](1)
    val b = two(1).getSeq[Float](1)
    val expected = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
      dot / (na * nb)
    }
    val got = emb.as("x").join(emb.as("y"))
      .filter(col("x.vec_id") === two(0).getLong(0) && col("y.vec_id") === two(1).getLong(0))
      .select(vec_cosine(col("x.embedding"), col("y.embedding")))
      .as[Double].head()
    assert(math.abs(got - expected) < 1e-12)
  }

  test("ann LSH recall vs brute force") {
    val queries = emb.filter(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(emb, queries, 5)
      .select(col("qid"), col("nid")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // testdata embeddings have weak cluster structure (top-5 cosine ~0.4), so
    // run wide: 4 bits/16 tables → per-table collision p^4, miss-all ~(1-p^4)^16
    val approx = Similarity.annTopK(emb, queries, 5, dim = 64, bits = 4, tables = 16)
      .select(col("qid"), col("nid")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    info(f"ann recall@5 = $recall%.2f (candidates=${approx.size})")
    assert(recall >= 0.5, f"recall $recall%.2f too low")
  }

  test("ivf ANN recall vs brute force") {
    val queries = emb.filter(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(emb, queries, 5)
      .select(col("qid"), col("nid")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.ivfTopK(emb, queries, 5, nCells = 16, nprobe = 6)
      .select(col("qid"), col("nid")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    info(f"ivf recall@5 = $recall%.2f")
    assert(recall >= 0.5, f"recall $recall%.2f too low")
  }

  test("ivf centroid assignment is map-only and matches the window formulation") {
    import org.apache.spark.sql.expressions.Window
    val centroids = Similarity.ivfCentroids(emb, 16)
    val assigned = Similarity.assignToCentroid(emb, centroids)
    // map-only: a projection over the scan — no exchange, no window, no join
    val plan = assigned.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"exchange in assignment plan:\n${plan.take(800)}")
    assert(!plan.contains("Window"), s"window in assignment plan:\n${plan.take(800)}")
    assert(!plan.contains("Join"), s"join in assignment plan:\n${plan.take(800)}")
    // bit-identical to the old crossJoin + row_number formulation
    val w = Window.partitionBy(col("vec_id")).orderBy(col("csim").desc, col("cid").asc)
    val ref = emb
      .crossJoin(broadcast(centroids))
      .withColumn("csim", vec_cosine(col("embedding"), col("centroid")))
      .withColumn("crn", row_number().over(w))
      .filter(col("crn") === 1)
      .select(col("vec_id"), col("cid"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    val got = assigned.select(col("vec_id"), col("cid"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(got == ref)
  }

  test("ann_ivf end-to-end plan has no cross product") {
    val df = graft.PipelineQueries.annIvf(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"BNLJ in plan:\n${plan.take(1200)}")
    assert(!plan.contains("CartesianProduct"), s"cartesian in plan:\n${plan.take(1200)}")
    assert(df.count() > 0)
  }

  test("ivf handles NaN embeddings (lowest cell) and rejects ragged vectors") {
    import spark.implicits._
    val base = emb.select(col("vec_id"), col("embedding"))
    // one poisoned row: all sims become NaN -> must land in the LOWEST cell,
    // not a -1 sentinel that silently drops it
    val poisoned = base.unionByName(
      Seq((99999L, Array.fill(64)(Float.NaN))).toDF("vec_id", "embedding"))
    val centroids = Similarity.ivfCentroids(poisoned, 8)
    val assigned = Similarity.assignToCentroid(poisoned, centroids)
    val nanRow = assigned.filter($"vec_id" === 99999L).select($"cid").as[Int].collect()
    val minCid = centroids.agg(min($"cid")).as[Int].head()
    assert(nanRow.toSeq == Seq(minCid), s"NaN row assigned ${nanRow.toSeq}, want lowest cell $minCid")
    // and training EXCLUDED the NaN row: every trained centroid stays finite
    // (folding NaN into a cell's sum would poison it to all-NaN)
    val cents = centroids.collect()
    assert(cents.forall(_.getSeq[Float](1).forall(f => !f.isNaN && !f.isInfinite)),
      "NaN row must not poison trained centroids")
    val plain = Similarity.ivfCentroids(base, 8).collect()
      .map(r => r.getInt(0) -> r.getSeq[Float](1)).toMap
    assert(cents.map(r => r.getInt(0) -> r.getSeq[Float](1)).toMap == plain,
      "training with an excluded NaN row must equal training without it")
    // ragged vector: training must fail loudly, not skew the mean silently
    val ragged = base.unionByName(
      Seq((99998L, Array.fill(32)(0.5f))).toDF("vec_id", "embedding"))
    val e = intercept[org.apache.spark.SparkException] {
      Similarity.ivfCentroids(ragged, 8).collect()
    }
    assert(e.getMessage.contains("ragged") ||
      Option(e.getCause).exists(_.getMessage.contains("ragged")))
  }

  test("multimodal pipeline: deterministic counts through 4mc binary") {
    val dir = java.nio.file.Files.createTempDirectory("media").toString + "/m"
    val out = Multimodal.pipelineMetrics(spark, 2000, dir).collect()
    val byKind = out.map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byKind("audio") == 667) // ids 0,3,6,... < 2000
    assert(byKind("image") == 1333)
    // resize stub: no width/height above 32 after resize
    assert(out.forall(r => r.getInt(3) <= 63 + 8)) // max_w bounded by generator
  }

  test("df-capped jaccard pairs equal uncapped at test scale (cap never engages)") {
    // the registered query caps shingle df at 256 as the corpus-scale
    // boilerplate guard; at test SFs max df is far below it, so output must
    // be IDENTICAL to the uncapped oracle formulation
    val capped = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 0.6, maxDocFreq = 256)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val uncapped = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    assert(capped == uncapped, s"cap engaged at test scale: ${capped.size} vs ${uncapped.size}")
  }

  test("prefix-filtered jaccard pairs equal the naive postings join") {
    for (t <- Seq(0.5, 0.6, 0.8)) {
      val fast = Dedup.ngramJaccardPairsPrefix(docs, "doc_id", "text", t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val naive = Dedup.ngramJaccardPairsNaive(docs, "doc_id", "text", t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(fast == naive, s"threshold $t: ${fast.size} vs ${naive.size}")
    }
  }

  test("saltedJoin equals plain join under a hot key") {
    import spark.implicits._
    // 90% of the large side shares one hot key
    val large = spark.range(10000).select(
      when($"id" % 10 =!= 0, lit(7L)).otherwise($"id" % 100).as("k"), $"id")
    val small = spark.range(100).select($"id".as("k"), ($"id" * 2).as("v"))
    val plain = large.join(small, "k").agg(count(lit(1)), sum("v"), sum("id")).head()
    val salted = Skew.saltedJoin(large, small, "k", 8).agg(count(lit(1)), sum("v"), sum("id")).head()
    assert(plain == salted)
    val hot = Skew.hotKeys(large, "k", 1).head()
    assert(hot.getLong(0) == 7L && hot.getLong(1) == 9000L)
  }

  test("embedding cosine near-dup pairs agree with brute-force filter") {
    val pairs = Similarity.embeddingDupPairs(emb, 0.4).collect()
    assert(pairs.nonEmpty)
    assert(pairs.forall(_.getDouble(2) >= 0.4))
    // symmetric sanity: d1 < d2 always
    assert(pairs.forall(r => r.getLong(0) < r.getLong(1)))
  }

  test("LSH-bucketed embedding pairs equal all-pairs and avoid BNLJ") {
    val viaLsh = Similarity.embeddingDupPairsViaLsh(emb, 0.4, 64, bits = 2, tables = 20)
    val plan = viaLsh.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"cartesian in plan:\n${plan.take(800)}")
    val fast = viaLsh.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = Similarity.embeddingDupPairs(emb, 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(fast == exact, s"${fast.size} via LSH vs ${exact.size} exact")
  }

  test("tight-regime LSH (tau=0.8, bits=8) prunes hard and keeps recall 1.0") {
    val offset = Similarity.plantedOffset(emb)
    val corpus = Similarity.withPlantedDups(emb, offset)
    val n = corpus.count()
    val allPairs = n * (n - 1) / 2
    val cands = Similarity.embeddingLshCandidates(corpus, 64, bits = 8, tables = 8)
    val nCands = cands.count()
    // the point of the tight regime: candidate volume must be FAR below N²/2
    // (measured ~26x pruning at every SF) — this is what makes the operator
    // linear-ish at 100 TB instead of quadratic
    assert(nCands * 10 < allPairs, s"$nCands candidates vs $allPairs all-pairs: pruning too weak")
    // and recall stays exact: every true pair at tau>=0.8 is a candidate
    val exact = Similarity.embeddingDupPairs(corpus, 0.8).select("d1", "d2")
    val missed = exact.except(cands).count()
    assert(missed == 0, s"$missed true pairs missed by the bucket join")
    // end-to-end result equals the all-pairs formulation, plan has no BNLJ
    val tight = Similarity.embeddingDupPairsViaLsh(corpus, 0.8, 64, bits = 8, tables = 8)
    val plan = tight.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"cartesian in plan:\n${plan.take(800)}")
    val got = tight.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val want = Similarity.embeddingDupPairs(corpus, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == want, s"${got.size} via LSH vs ${want.size} exact")
    // every planted twin pair is found (ground truth is real, not vacuous)
    val planted = got.count { case (d1, d2, _) => d2 == d1 + offset }
    assert(planted == emb.count(), s"found $planted of ${emb.count()} planted pairs")
  }

  test("semanticDedup: map-only assignment, planted twins removed, partition-invariant") {
    val offset = Similarity.plantedOffset(emb)
    val corpus = Similarity.withPlantedDups(emb, offset)
    val out = Similarity.semanticDedup(corpus, k = 16, tau = 0.8)
    val plan = out.queryExecution.executedPlan.toString
    // cluster-then-prune must never plan a cartesian: candidates come from an
    // EQUALITY self-join on the cluster id
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"cartesian in plan:\n${plan.take(800)}")
    // the assignment stage (checkpointed once inside semanticDedup) is the
    // codegen expression in a map-only Project — no join, no exchange
    val assignPlan = Similarity.semanticAssign(corpus, k = 16, iters = 0)
      .queryExecution.executedPlan.toString
    assert(assignPlan.contains("nearest_centroid"), "assignment must be the codegen expression")
    assert(!assignPlan.contains("Exchange"), "assignment must be map-only")
    val rows = out.collect().map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2)))
    assert(rows.length == corpus.count().toInt)
    val byId = rows.map(r => r._1 -> r).toMap
    // a twin that lands in its original's cluster MUST be removed (cosine
    // ~0.99998 >= tau); originals are never removed by their own twin (lower
    // id wins). Twins on a Voronoi boundary may legitimately split clusters.
    val n = emb.count()
    val sameCell = (0L until n).filter(i => byId(i)._2 == byId(i + offset)._2)
    assert(sameCell.nonEmpty, "no twin shares its original's cluster — vacuous test")
    assert(sameCell.forall(i => byId(i + offset)._3), "co-clustered twin not removed")
    // the lowest id of every cluster can never be removed (no lower-id pair)
    val minPerCluster = rows.groupBy(_._2).map { case (_, rs) => rs.minBy(_._1) }
    assert(minPerCluster.forall(!_._3), "cluster-minimum id marked removed")
    // partition invariance: the same result from a different input layout
    val rows2 = Similarity.semanticDedup(corpus.repartition(7), k = 16, tau = 0.8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2))).toSet
    assert(rows2 == rows.toSet, "semanticDedup must be partition-invariant")
  }

  test("unigramLogProb: OOV floor, integer-exact means, bounded vocab broadcast") {
    import spark.implicits._
    // tiny corpus with a known LM: "a" x6, "b" x3, "rare" x1 -> total 10
    val d = Seq((1L, "a a a b"), (2L, "a a a b b rare")).toDF("doc_id", "text")
    val out = TextAnalysis.unigramLogProb(d, "doc_id", "text", vocabCap = 2)
      .orderBy("doc").collect()
    def micro(p: Double): Long = math.round(1e6 * math.log(p))
    val sa = micro(6.0 / 10); val sb = micro(3.0 / 10); val oov = micro(1.0 / 10)
    // doc 1: 3a+1b; doc 2: 3a+2b+1 OOV ("rare" is outside the top-2 vocab)
    assert(out(0).getLong(1) == 4 && out(0).getLong(2) == 3 * sa + sb)
    assert(out(1).getLong(1) == 6 && out(1).getLong(2) == 3 * sa + 2 * sb + oov)
    // mean is rounded from the exact integer sum
    assert(out(0).getLong(3) == math.round((3 * sa + sb) / 4.0))
    // nat_bin tiers by whole nats of mean improbability
    assert(out(0).getLong(4) == math.floor(-out(0).getLong(3) / 1e6).toLong)
    // plan: vocabulary cut is a TakeOrdered partial top-V (never a full sort),
    // and the vocabulary + corpus total ride broadcasts onto the token stream
    val plan = TextAnalysis.unigramLogProb(docs, "doc_id", "text", 16)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"vocab cut not partial top-V:\n${plan.take(600)}")
    assert(plan.contains("BroadcastHashJoin"), "vocabulary must broadcast onto tokens")
  }

  test("bigramLogProb: all three scoring paths hand-verified on a known LM") {
    import spark.implicits._
    // corpus: doc1 = "a a b", doc2 = "a b c a"
    //   unigrams a:4 b:2 c:1 (total 7); vocabCap=2 -> {a,b}, c is OOV
    //   bigrams (a,b):2 (a,a):1 (b,c):1 (c,a):1; bigramCap=2 -> {(a,b),(a,a)}
    val d = Seq((1L, "a a b"), (2L, "a b c a")).toDF("doc_id", "text")
    val out = TextAnalysis.bigramLogProb(d, "doc_id", "text", vocabCap = 2, bigramCap = 2)
      .orderBy("doc").collect()
    // HALF-AWAY-FROM-ZERO, matching Spark's round() AND DuckDB's round() on
    // negative values (math.round is half-toward-+inf and differs on -x.5 —
    // doc1's mean lands EXACTLY on -1076431.5 and caught this)
    def rnd(x: Double): Long =
      if (x >= 0) math.floor(x + 0.5).toLong else math.ceil(x - 0.5).toLong
    def micro(p: Double): Long = rnd(1e6 * math.log(p))
    val total = 7.0
    def pu(cnt: Double) = cnt / total
    // in-table bigram over known history: discounted + continuation mass
    def inTable(c12: Double, c1: Double, types: Double, puW2: Double) =
      (c12 - 0.75) / c1 + 0.75 * types / c1 * puW2
    // out-of-table bigram over known history: continuation mass only
    def backoff(c1: Double, types: Double, puW2: Double) =
      0.0 + 0.75 * types / c1 * puW2
    val sAA = micro(inTable(1, 4, 2, pu(4)))
    val sAB = micro(inTable(2, 4, 2, pu(2)))
    val sBC = micro(backoff(2, 1, 1.0 / total)) // c is OOV -> floor prob
    val sCA = micro(pu(4)) // OOV history -> pure unigram
    assert(out(0).getLong(1) == 2 && out(0).getLong(2) == sAA + sAB)
    assert(out(1).getLong(1) == 3 && out(1).getLong(2) == sAB + sBC + sCA)
    assert(out(0).getLong(3) == rnd((sAA + sAB) / 2.0))
    // plan: history/bigram/unigram tables all broadcast; bigram-table cut is
    // a TakeOrdered partial top-B
    val plan = TextAnalysis.bigramLogProb(docs, "doc_id", "text", 16, 48)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"))
    assert(plan.contains("BroadcastHashJoin"))
  }

  test("one-pass minhash_signatures equals the 64x transform+array_min formulation") {
    import spark.implicits._
    // the fixture plus the shingle kernel's edge rows: repeated windows,
    // empty and whitespace-only texts (one empty token), 1 and 2 tokens (one
    // whole-text shingle), a null text, multi-byte UTF-8 split on tabs,
    // newlines and CR, and a doc whose every window is the same
    val planted = Seq[(Long, String)](
      (900001L, "a b c a b c a b c a b"), (900002L, ""), (900003L, " \t\n "),
      (900004L, "one"), (900005L, "two words"), (900006L, null),
      (900007L, "naïve\tcafé 中文\n中文 naïve\tcafé 中文 😀 x"), (900008L, "x x x x x x"),
      (900009L, "a b c"), (900010L, "a  b\r\nc   a b c"))
      .toDF("doc_id", "text")
    val in = docs.select("doc_id", "text").unionByName(planted)
    def sigs(df: org.apache.spark.sql.DataFrame) = df.select("doc", "sig", "shingles").collect()
      .map(r => r.getLong(0) -> (Option(r.getSeq[Long](1)).map(_.toVector), Option(r.getSeq[Long](2)).map(_.toVector)))
      .toMap
    val fused = sigs(Dedup.minHashSignatures(in, "doc_id", "text"))
    val columns = sigs(Dedup.minHashSignaturesColumns(in, "doc_id", "text"))
    assert(fused.size == in.count() && fused.keySet == columns.keySet)
    val diff = fused.keys.filter(d => fused(d) != columns(d))
    assert(diff.isEmpty, s"fused signatures or shingles differ for docs ${diff.take(5).mkString(", ")}")
    assert(fused(900006L) == ((None, None)), "a null text has a null sig and null shingles")
    assert(fused(900001L)._2.get.length == 3 && fused(900008L)._2.get.length == 1)
    assert(fused(900004L)._2.get.length == 1 && fused(900005L)._2.get.length == 1)
  }

  test("minhash verification sets ride as 8-byte longs, not shingle strings") {
    // the checkpoint and both verification rejoins carry `shingles`; keying
    // them as xxhash64 longs (not ~25-byte strings) is the round-7 shuffle
    // cut (5.7 -> 3.95 GB at 700x) — lock the schema so it can't regress
    val sigs = Dedup.minHashSignatures(docs, "doc_id", "text")
    val shinglesType = sigs.schema("shingles").dataType
    assert(shinglesType == org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.LongType, containsNull = false),
      s"verification sets must be long-keyed, got $shinglesType")
  }

  test("keepCanonical keeps exactly one survivor per component, the token-max doc") {
    import spark.implicits._
    val pairs = Dedup.nearDupPairs(docs, "doc_id", "text", 0.5)
    val comp = Dedup.duplicateClusters(pairs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val kept = Dedup.keepCanonical(pairs, docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // one survivor per distinct component
    assert(kept.map(_._1).distinct.length == kept.length)
    assert(kept.map(_._1).toSet == comp.values.toSet)
    // each survivor's token count is the max in its cluster (ground truth via
    // a driver-side recompute over the small fixture)
    val toks = docs.select($"doc_id", size(split(trim($"text"), "\\s+")).cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    kept.foreach { case (c, doc, n) =>
      val members = comp.collect { case (d, cc) if cc == c => d }
      val best = members.map(d => (toks(d), -d)).max
      assert((n, -doc) == best, s"component $c kept $doc ($n tokens), expected ${-best._2}")
    }
  }

  test("keepCanonical: driver-side pick equals the ranking window, ties and null texts included") {
    import spark.implicits._
    // component 1: docs 1..4, docs 2 and 3 tie on the max token count (3);
    // component 10: doc 10 has a null text (null n_tokens ranks last) and
    // doc 12 is absent from docs; component 20: every member has a null text
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L), (20L, 21L))
      .map { case (a, b) => (a, b, 1.0) }.toDF("d1", "d2", "jaccard")
    val docs = Seq[(Long, String)]((1L, "a b"), (2L, "a b c"), (3L, "x y z"), (4L, "q"),
      (10L, null), (11L, "one"), (20L, null), (21L, null), (99L, "not in any pair"))
      .toDF("doc_id", "text")
    def kept(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Option[Long])] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Long]))).toSet
    val driver = kept(Dedup.keepCanonical(pairs, docs, "doc_id", "text"))
    val window = withForcedCcLoop(kept(Dedup.keepCanonical(pairs, docs, "doc_id", "text")))
    assert(driver == window)
    assert(driver.map(k => (k._1, k._2)) == Set((1L, 2L), (10L, 11L), (20L, 20L)))
    assert(driver.exists(_ == ((1L, 2L, Some(3L)))) && driver.exists(_ == ((10L, 11L, Some(1L)))))
  }

  test("keepCanonical over a checkpointed pairs frame: 2 jobs, no broadcast exchange, the window's picks") {
    val docs = this.docs // reading the parquet footers for the schema runs a job
    val pairs = Dedup.nearDupPairs(docs, "doc_id", "text", 0.5).localCheckpoint(true)
    assert(pairs.count() > 0)
    def kept(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Option[Long])] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Long]))).toSet
    // the description and tags of every job of the call and of its collect:
    // Spark runs a broadcast exchange as its own job, tagged "broadcast
    // exchange (runId …)"
    val labels = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        for (p <- Option(js.properties); k <- Seq("spark.job.description", "spark.job.tags"))
          Option(p.getProperty(k)).foreach(labels.add)
    }
    spark.sparkContext.addSparkListener(listener)
    var driver: Set[(Long, Long, Option[Long])] = null
    val jobs = try graft.JobCount.jobsOf(spark) {
      driver = kept(Dedup.keepCanonical(pairs, docs, "doc_id", "text"))
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs == 2, s"driver path ran $jobs jobs")
    val seen = scala.jdk.CollectionConverters.CollectionHasAsScala(labels).asScala.toSeq
    assert(!seen.exists(_.toLowerCase.contains("broadcast")), s"broadcast in ${seen.mkString(", ")}")
    assert(driver == withForcedCcLoop(kept(Dedup.keepCanonical(pairs, docs, "doc_id", "text"))))
    assert(driver.nonEmpty)
  }

  test("keepCanonical over the fixture written as 4mc: the frame's picks, no Spark job on the driver read") {
    // the pairs of a small corpus are a local relation: their components
    // run no job either, so the whole call is the sizing pass
    val corpus = docs.select(col("doc_id"), col("text"))
    def kept(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Option[Long])] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Long]))).toSet
    val got = McCorpus.sameOver4mc(corpus, "keepCanonical", 0L, None) { (in, _) =>
      Dedup.keepCanonical(Dedup.nearDupPairs(in, "doc_id", "text", 0.5), in, "doc_id", "text")
    }(kept)
    assert(got.nonEmpty)
  }

  test("packedBins is invariant to the partition count (distributed prefix sum is exact)") {
    import spark.implicits._
    def bins(parts: Int) = Packing.packedBins(docs, "doc_id", "text", 512, numParts = parts)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    val one = bins(1)       // degenerate: single partition = plain running sum
    val seven = bins(7)
    assert(one == seven, "bin assignment must not depend on partitioning")
    // brute-force ground truth: global cumulative offsets in doc order
    val ordered = docs.select($"doc_id", size(split(trim($"text"), "\\s+")).cast("long").as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    var off = 0L
    val want = ordered.map { case (d, n) => val b = off / 512; off += n; d -> b }.toMap
    assert(one == want)
  }

  test("tokenBudgetSample equals the driver-side greedy selection") {
    import spark.implicits._
    val got = Packing.tokenBudgetSample(docs, "doc_id", "text", 5000L, numParts = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    // ground truth: greedy best-first over the small fixture (scores from
    // the library — this test checks the SELECTION, not the scorers)
    val scored = docs.select(
      $"doc_id",
      TextAnalysis.tokenCount($"text").cast("long").as("n"),
      TextAnalysis.qualityScore($"text").cast("long").as("q"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    var off = 0L
    val want = scored.sortBy { case (d, _, q) => (-q, d) }.flatMap { case (d, n, q) =>
      val keep = off < 5000L; off += n
      if (keep) Some((d, n, q)) else None
    }.sortBy(_._1)
    assert(got.toSeq == want.toSeq)
    assert(got.nonEmpty && got.map(_._2).sum >= 5000L - got.map(_._2).max)
  }

  test("nearDupPairs materializes signatures once and leaves no cached plan behind") {
    // the distributed plan, forced by a one-long driver-path bound
    val pairs = Dedup.nearDupPairsWith(docs, "doc_id", "text", 0.5, 64, 4, driverMaxLongs = 1L)
    val plan = pairs.queryExecution.executedPlan.toString
    // signatures come from the eagerly-checkpointed RDD (md5 + 64-perm subplan
    // ran exactly once); the session CacheManager stays empty, so nothing is
    // pinned for the session lifetime (the r2/r3 sigs.cache() leak)
    assert(plan.contains("ExistingRDD") || plan.contains("Scan ExistingRDD"),
      s"expected checkpointed signature scan:\n${plan.take(1200)}")
    assert(!plan.contains("md5"), s"signature subplan must not be recomputed:\n${plan.take(1200)}")
    assert(spark.sharedState.cacheManager.isEmpty, "nearDupPairs must not leave cached plans behind")
  }

  test("nearDupPairs on the driver runs the signature subplan once and leaves no cached plan behind") {
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => plans.add(s.physicalPlanDescription)
        case _ =>
      }
    }
    val d = docs // the parquet schema read is a job of its own
    var pairs: org.apache.spark.sql.DataFrame = null
    spark.sparkContext.addSparkListener(l)
    val jobs =
      try graft.JobCount.jobsOf(spark) { pairs = Dedup.nearDupPairs(d, "doc_id", "text", 0.5) }
      finally spark.sparkContext.removeSparkListener(l)
    assert(graft.JobCount.jobsOf(spark)(pairs.collect()) == 0, "the local result must collect with no job")
    import scala.jdk.CollectionConverters._
    // one query execution ran the signature subplan: the checkpoint's
    // pass, which also sized the signatures and brought them back, and
    // nothing else ran
    assert(plans.asScala.count(_.contains("minhash_signatures")) == 1, plans.asScala.mkString("\n---\n").take(2000))
    assert(jobs == 1, s"the checkpoint job alone, got $jobs jobs")
    val plan = pairs.queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan") && !plan.contains("md5"), plan.take(1200))
    assert(spark.sharedState.cacheManager.isEmpty, "nearDupPairs must not leave cached plans behind")
  }

  test("dupSpanCoverage on the driver tokenizes the corpus once and leaves no cached plan behind") {
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => plans.add(s.physicalPlanDescription)
        case _ =>
      }
    }
    val d = docs // the parquet schema read is a job of its own
    var cov: org.apache.spark.sql.DataFrame = null
    spark.sparkContext.addSparkListener(l)
    val jobs =
      try graft.JobCount.jobsOf(spark) { cov = Spans.dupSpanCoverage(d, "doc_id", "text", 8) }
      finally spark.sparkContext.removeSparkListener(l)
    assert(graft.JobCount.jobsOf(spark)(cov.collect()) == 0, "the local result must collect with no job")
    import scala.jdk.CollectionConverters._
    // one query execution tokenized and hashed the corpus: the checkpoint's
    // pass, which also sized the rows and brought them back
    assert(plans.asScala.count(_.contains("token_window_hash")) == 1, plans.asScala.mkString("\n---\n").take(2000))
    assert(jobs == 1, s"the checkpoint job alone, got $jobs jobs")
    val plan = cov.queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan") && !plan.contains("token_window_hash"), plan.take(1200))
    assert(cov.count() > 0)
    assert(spark.sharedState.cacheManager.isEmpty, "dupSpanCoverage must not leave cached plans behind")
  }

  test("exactDedupByDigest matches exactDedup") {
    import spark.implicits._
    val dupes = docs.limit(80).withColumn("doc_id", $"doc_id" + 100000)
    val withDupes = docs.unionByName(dupes)
    val a = Dedup.exactDedup(withDupes, Seq("text"), "doc_id")
      .select("doc_id").as[Long].collect().sorted
    val b = Dedup.exactDedupByDigest(withDupes, Seq("text"), "doc_id")
      .select("doc_id").as[Long].collect().sorted
    assert(a.toSeq == b.toSeq)
  }

  test("bucketed join plans with zero exchange") {
    import spark.implicits._
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ path
    try {
      val ord = spark.read.parquet(s"$sf/orders.parquet")
      val li = spark.read.parquet(s"$sf/lineitem.parquet")
      Bucketing.writeBucketed(ord.withColumnRenamed("o_orderkey", "k"), "b_orders", "k", 4)
      Bucketing.writeBucketed(li.withColumnRenamed("l_orderkey", "k"), "b_lineitem", "k", 4)
      val joined = Bucketing.bucketedJoin(spark, "b_orders", "b_lineitem", "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join must not shuffle:\n${plan.take(500)}")
      // and it is still correct
      val want = ord.join(li, ord("o_orderkey") === li("l_orderkey")).count()
      assert(joined.count() == want)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }

  test("chunking covers every token with the expected overlap") {
    import spark.implicits._
    val row = Seq((1 to 150).map(i => s"w$i").mkString(" ")).toDF("text")
      .select(TextAnalysis.tokens($"text").as("toks"))
      .select(
        $"toks",
        TextAnalysis.chunks($"toks", 64, 48).as("cs"),
        TextAnalysis.chunkLengths($"toks", 64, 48).as("lens"))
      .head()
    val toks = row.getSeq[String](0).toSeq
    val cs = row.getSeq[scala.collection.Seq[String]](1).toSeq.map(_.toSeq)
    val lens = row.getSeq[Int](2).toSeq
    assert(cs.map(_.length) == lens)
    assert(cs.zipWithIndex.forall { case (c, i) => c == toks.slice(i * 48, i * 48 + 64) })
    // full coverage: last chunk reaches the last token
    assert((cs.length - 1) * 48 + cs.last.length == toks.length)
    // consecutive chunks overlap by a_end - b_start (16 for full chunks)
    cs.sliding(2).zipWithIndex.foreach {
      case (Seq(a, b), i) =>
        val overlap = (i * 48 + a.length) - (i + 1) * 48
        if (overlap > 0) assert(a.takeRight(overlap) == b.take(overlap))
      case _ =>
    }
    // chunk ends strictly increase: no chunk is contained in its predecessor
    val ends = cs.zipWithIndex.map { case (c, i) => i * 48 + c.length }
    assert(ends == ends.sorted && ends.distinct == ends)
    // a document covered by one window yields exactly ONE chunk (a second
    // start would duplicate a suffix of the first)
    val one = Seq((1 to 50).map(i => s"w$i").mkString(" ")).toDF("text")
      .select(TextAnalysis.chunkLengths(TextAnalysis.tokens($"text"), 64, 48).as("l"))
      .head().getSeq[Int](0)
    assert(one == Seq(50), s"got $one")
    // degenerate: empty token array still yields one (empty) chunk
    val empty = spark.sql("SELECT array() AS toks")
      .select(TextAnalysis.chunkLengths(col("toks").cast("array<string>"), 64, 48).as("l"))
      .head().getSeq[Int](0)
    assert(empty == Seq(0))
  }

  test("md5Bucket is deterministic, uniform-ish, and engine-portable") {
    import spark.implicits._
    val b = docs.select($"doc_id", Sampling.md5Bucket($"doc_id", 100).as("b"))
    val again = docs.select($"doc_id", Sampling.md5Bucket($"doc_id", 100).as("b"))
    assert(b.collect().toSeq.sortBy(_.getLong(0)) == again.collect().toSeq.sortBy(_.getLong(0)))
    val buckets = b.select("b").as[Long].collect()
    assert(buckets.forall(x => x >= 0 && x < 100))
    // uniform-ish at n=100: the 80/10/10 split should not collapse
    val splits = docs.select(Sampling.splitAssignment($"doc_id", 80, 10).as("s"))
      .groupBy("s").count().as[(String, Long)].collect().toMap
    assert(splits.keySet == Set("train", "val", "test"), s"got $splits")
    assert(splits("train") > splits("val") && splits("train") > splits("test"))
    // spot-check the exact value DuckDB computes for key 42 (verified
    // out-of-band: md5('42') = a1d0c6e8..., 0xa1d0c6e8 = 2714814184)
    val v = spark.range(42, 43).select(Sampling.md5Bucket($"id", 100).as("b")).head().getLong(0)
    assert(v == 2714814184L % 100)
  }

  test("decontamination finds a planted eval-train leak") {
    import spark.implicits._
    // plant: eval doc 900000 is a verbatim copy of a train doc; eval doc
    // 900002 is unrelated noise sharing no 3-gram with anything
    val trainText = docs.orderBy($"doc_id").select($"text").head().getString(0)
    val planted = Seq(
      (900000L, trainText),
      (900002L, "zq1 zq2 zq3 zq4 zq5 zq6 zq7 zq8")
    ).toDF("doc_id", "text")
    val corpus = docs.select($"doc_id", $"text").unionByName(planted)
    val report = Decontaminate
      .contaminationReport(corpus, "doc_id", "text", $"doc_id" >= 900000L)
      .collect()
    val byDoc = report.map(r => r.getLong(0) -> r).toMap
    assert(byDoc.contains(900000L), "verbatim copy must be reported")
    assert(byDoc(900000L).getDouble(3) == 1.0, "full copy leaks every shingle")
    assert(!byDoc.contains(900002L), "noise doc must not be reported")
  }

  test("bloom_filtered_join injects a runtime bloom filter; caller conf untouched") {
    val before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val df = graft.PipelineQueries.bloomFilteredJoin(spark, sf)
    val plan = df.queryExecution.optimizedPlan.toString
    assert(
      plan.contains("bloom_filter") || plan.contains("might_contain"),
      s"no runtime bloom filter in the driver query's plan:\n${plan.take(1000)}")
    assert(spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == before,
      "isolated-session confs leaked into the caller's session")
  }

  test("writeBucketed reclaims an orphaned warehouse directory") {
    import spark.implicits._
    // Simulate a crashed JVM: location exists on disk, catalog has no entry.
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val loc = new org.apache.hadoop.fs.Path(wh, "b_orphan")
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(loc)
    fs.create(new org.apache.hadoop.fs.Path(loc, "stale.parquet")).close()
    spark.sql("DROP TABLE IF EXISTS b_orphan") // catalog must NOT know it
    try {
      Bucketing.writeBucketed(
        spark.range(10).select($"id".as("k")), "b_orphan", "k", 2)
      assert(spark.table("b_orphan").count() == 10)
    } finally {
      spark.sql("DROP TABLE IF EXISTS b_orphan")
    }
  }

  test("multimodal frame-sample and feature-extract stubs") {
    import spark.implicits._
    val blobs = Multimodal.syntheticBlobs(spark, 500)
    val sampled = Multimodal.frameSampleStub(blobs, 2)
    val sizes = blobs.joinWith(sampled, blobs("media_id") === sampled("media_id"))
      .map { case (a, b) => (a.payload.length, b.payload.length) }.collect()
    assert(sizes.forall { case (orig, s) => s <= orig && s >= 12 })
    val feats = Multimodal.featureExtractStub(blobs)
    assert(feats.count() == 500)
    val row = feats.orderBy($"media_id").head()
    assert(row.getSeq[Float](2).length == 8)
    // deterministic: same id ⇒ same features
    val again = Multimodal.featureExtractStub(Multimodal.syntheticBlobs(spark, 500))
      .orderBy($"media_id").head()
    assert(row.getSeq[Float](2) == again.getSeq[Float](2))
  }

  test("subword token count follows the GPT-2-style pre-tokenizer runs") {
    import spark.implicits._
    val cases = Seq(
      ("hello world", 2),        // two letter runs
      ("it's fine", 3),          // letters + contraction + letters
      ("v123.x!", 5),            // letters, digits, punct, letters, punct
      ("a  b", 2),               // double space: second " b" still one match
      ("42", 1),
      ("", 0)
    )
    val got = cases.map(_._1).toDF("t")
      .select(TextAnalysis.subwordTokenCount($"t").as("n"))
      .as[Int].collect().toSeq
    assert(got == cases.map(_._2), s"got $got want ${cases.map(_._2)}")
  }

  test("quality score and lang id are stable expressions") {
    import spark.implicits._
    val r = docs
      .select(
        TextAnalysis.qualityScore($"text").as("q"),
        TextAnalysis.langId($"text").as("l"),
        TextAnalysis.tokenCount($"text").as("t")
      )
      .agg(min($"q"), max($"q"), countDistinct($"l"), sum($"t"))
      .head()
    assert(r.getLong(3) > 0)
  }

  test("bigrams: adjacency, boundaries, and the <2-token guard") {
    import spark.implicits._
    val got = Seq("a b c", "solo", "", "x y")
      .toDF("t")
      .select(TextAnalysis.bigrams(TextAnalysis.tokens($"t")).as("bg"))
      .as[Seq[String]]
      .collect()
      .toSeq
    assert(got(0) == Seq("a b", "b c"))
    assert(got(1).isEmpty)
    // "" trims/splits to a single empty token — still under the guard
    assert(got(2).isEmpty)
    assert(got(3) == Seq("x y"))
  }

  test("repetition signals flag a planted repetitive doc") {
    import spark.implicits._
    // one doc that is a single bigram repeated: top-bigram mass ~100%
    val planted = Seq((999999L, "zz", "qq zz qq zz qq zz qq zz qq zz qq"))
      .toDF("doc_id", "lang", "text")
      .withColumn("source", lit("planted"))
      .withColumn("n_chars", length($"text"))
    val dir = java.nio.file.Files.createTempDirectory("rep_sig").toFile
    try {
      docs.unionByName(planted).write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val out = graft.PipelineQueries.repetitionSignals(spark, dir.toString)
        .filter($"lang" === "zz")
        .head()
      assert(out.getAs[Long]("n_repetitive") == 1L)
      assert(out.getAs[Long]("max_topbg_ppm") > 400000L)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(dir)
    }
  }

  test("maxRunLength: longest equal run of a sorted array, map-side") {
    import spark.implicits._
    val got = Seq(
      Seq.empty[String],
      Seq("a"),
      Seq("a", "a", "a"),
      Seq("a", "a", "b", "b", "b", "c")
    ).toDF("xs")
      .select(TextAnalysis.maxRunLength(array_sort($"xs")).as("m"))
      .as[Long].collect()
    assert(got.toSeq == Seq(0L, 1L, 3L, 3L))
  }

  test("repetition signals plan is map-only: one rollup shuffle, no explode") {
    val q = graft.PipelineQueries.repetitionSignals(spark, sf)
    val plan = q.queryExecution.executedPlan.toString
    // the bigram statistic must NOT leave the row: no Generate (explode) and
    // exactly one hash exchange (the per-language rollup; the orderBy adds
    // only a range exchange)
    assert(!plan.contains("Generate"), s"explode leaked into the plan:\n${plan.take(1500)}")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashExchanges == 1,
      s"expected exactly 1 hash exchange (per-lang rollup), got $hashExchanges:\n${plan.take(1500)}")
  }

  test("bm25 construction launches no action job: corpus stats ride the broadcast") {
    // spark.read.parquet itself runs a 1-task footer/schema-inference job
    // ("parquet at ..."); what must NOT appear is an ACTION job (the old
    // driver-side d.count() fired "count at PipelineQueries.scala" during
    // DataFrame construction).
    val actionJobs = scala.collection.concurrent.TrieMap.empty[Int, String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val names = js.stageInfos.map(_.name).mkString(" | ")
        if (!names.contains("parquet at ")) actionJobs.put(js.jobId, names)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      graft.PipelineQueries.bm25TopDocs(spark, sf) // no action
      Thread.sleep(1000) // listener bus is async; give events time to drain
      assert(actionJobs.isEmpty,
        s"DataFrame construction ran action job(s): ${actionJobs.values.mkString("; ")}")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("bm25: rare query term dominates ranking; plan broadcasts df and avgdl") {
    import spark.implicits._
    val q = graft.PipelineQueries.bm25TopDocs(spark, "/root/testdata/sf0.01")
    val plan = q.queryExecution.executedPlan.toString
    // the 1-row avgdl side rides a broadcast (BNLJ over one row is fine);
    // a CartesianProduct would mean the broadcast hint was lost
    assert(!plan.contains("CartesianProduct"), s"cartesian in plan:\n${plan.take(1200)}")
    val rows = q.collect()
    assert(rows.length == 15)
    // scores strictly ordered desc with doc_id tiebreak
    val scores = rows.map(_.getAs[Long]("score"))
    assert(scores.sameElements(scores.sortBy(-_: Long)))
    // docs containing the rare term 'dup' (idf ~11x the common terms) must
    // fill the top ranks
    val topDoc = rows.head.getAs[Long]("doc_id")
    val hasDup = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .filter($"doc_id" === topDoc)
      .select(array_contains(split(trim($"text"), "\\s+"), "dup"))
      .head().getBoolean(0)
    assert(hasDup, s"top-ranked doc $topDoc does not contain the rare term")
  }
}
