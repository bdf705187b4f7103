package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Dedup, Similarity, TextAnalysis}

/** ANSI-mode robustness: Spark 4 runs with ANSI on, so any division whose
  * denominator can reach zero (empty docs, sub-shingle-length docs, zero
  * vectors) must yield null/no-rows instead of throwing DIVIDE_BY_ZERO.
  * Round-1 advice flagged these paths; the gate corpus (min 10 words/doc)
  * never trips them, so these specs pin the behavior. */
class EdgeCaseSpec extends AnyFunSuite {
  private lazy val spark = Golden.spark
  import spark.implicits._

  private val corpus = Seq(
    (0L, "the quick brown fox jumps over the lazy dog again and again"),
    (1L, "the quick brown fox jumps over the lazy dog again and again"),
    (2L, "short doc"),            // fewer words than the shingle width
    (3L, ""),                     // empty text
    (4L, "tiny")
  ).toDF("doc_id", "text")

  test("minhashLshPairs survives short/empty docs and still finds the dup") {
    val pairs = Dedup.minhashLshPairs(corpus, "doc_id", "text", k = 4, rowsPerBand = 2, n = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.toSeq == Seq((0L, 1L, 1.0)))
  }

  test("dHash edges: null payload stays null, empty hashes 0, sub-grid lengths deterministic") {
    import graft.ops.Multimodal
    val rows = Seq[(Long, Option[String])](
      (0L, None), (1L, Some("")), (2L, Some("a")), (3L, Some("ab" * 40)))
      .toDF("id", "t")
      .select(col("id"), encode(col("t"), "utf-8").as("p"))
    val got = rows.select(col("id"), Multimodal.dHash(col("p")).as("h"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Long])).toMap
    assert(got(0L).isEmpty, "null payload -> null hash (no silent zero)")
    assert(got(1L).contains(0L) && got(2L).contains(0L),
      "empty and single-byte payloads hash to 0 (no comparison wins)")
    assert(got(3L).contains(
      graft.functions.DHash64.hash(("ab" * 40).getBytes("UTF-8"))))
  }

  test("ngramJaccardPairs survives short/empty docs and still finds the dup") {
    val pairs = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", n = 5, minJaccard = 0.5, maxDf = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.toSeq == Seq((0L, 1L, 1.0)))
  }

  test("asof join: equal-time fact visible, latest wins, no-fact rows keep nulls") {
    val events = Seq((100L, 1L, 5L), (101L, 1L, 10L), (102L, 1L, 3L), (103L, 2L, 7L))
      .toDF("event_id", "k", "t")
    val facts = Seq((1L, 5L, "f@5"), (1L, 8L, "f@8"), (3L, 1L, "other-key"))
      .toDF("fk", "ft", "label")
    val out = graft.ops.AsofJoin.asof(events, facts, "k", "fk", "t", "ft", Seq("label"))
      .collect().map(r => (r.getLong(0), Option(r.getString(3)).orNull)).toMap
    assert(out == Map(
      100L -> "f@5",  // fact at the SAME time is visible (t_right <= t_left)
      101L -> "f@8",  // most recent of several earlier facts
      102L -> null,   // before any fact for the key
      103L -> null))  // key with no facts at all
  }

  test("asof join: nullable payloads attach whole rows, null-time facts drop") {
    val events = Seq((100L, 1L, 3L), (101L, 2L, 9L)).toDF("event_id", "k", "t")
    val facts = Seq(
      (1L, Some(1L), Some("a1"), None: Option[String]), // older fact: a set, b null
      (1L, Some(2L), None, Some("b2")),                 // latest fact: a null, b set
      (2L, None, Some("ax"), Some("bx"))                // null time: not on the axis
    ).toDF("fk", "ft", "a", "b")
    val out = graft.ops.AsofJoin.asof(events, facts, "k", "fk", "t", "ft", Seq("a", "b"))
      .collect().map(r => (r.getLong(0), (Option(r.getString(3)), Option(r.getString(4))))).toMap
    // the t=2 fact wins WHOLE: a must be null (not 'a1' carried from t=1)
    assert(out(100L) == ((None, Some("b2"))), s"chimera row: ${out(100L)}")
    // a null-time fact is never attached, as in a native ASOF join
    assert(out(101L) == ((None, None)))
  }

  test("sorted-long intersect count matches array_intersect, incl. empty/null") {
    // random sorted distinct long arrays with controlled overlap
    val rows = (0 until 200).map { i =>
      val rng = new scala.util.Random(i)
      val shared = Seq.fill(rng.nextInt(20))(rng.nextLong())
      val a = (shared ++ Seq.fill(rng.nextInt(30))(rng.nextLong())).distinct.sorted
      val b = (shared ++ Seq.fill(rng.nextInt(30))(rng.nextLong())).distinct.sorted
      (a, b)
    } :+ ((Seq.empty[Long], Seq(1L, 2L)))
    val df = rows.toDF("a", "b")
    val diffs = df.select(
        graft.functions.ArrayExprs.sortedLongIntersectCount(col("a"), col("b")).as("fast"),
        size(array_intersect(col("a"), col("b"))).as("slow"))
      .filter(col("fast") =!= col("slow")).count()
    assert(diffs == 0)
    val nulls = df.limit(1).select(graft.functions.ArrayExprs.sortedLongIntersectCount(
        lit(null).cast("array<bigint>"), col("b")).as("c"))
      .filter(col("c").isNull).count()
    assert(nulls == 1)
  }

  test("lshNearDupPairs: maxPerBucket bounds a hot bucket; autoPlanes scales") {
    // 100 IDENTICAL vectors: every one lands in the same bucket, the
    // worst case no plane count can split — only the cap bounds it
    val hot = (0 until 100).map(i => (i.toLong, Array.fill(8)(1.0f)))
      .toDF("vec_id", "embedding")
    val capped = Similarity.lshNearDupPairs(hot, "vec_id", "embedding",
      dim = 8, nPlanes = 4, minSim = 0.9, maxPerBucket = 8)
    // ≤ C(8,2) pairs survive, and deterministically the lowest ids
    assert(capped.count() == 28)
    assert(capped.agg(max(col("id_b"))).head().getLong(0) == 7L)
    // uncapped default: all C(100,2) pairs (q42's exact behavior)
    val uncapped = Similarity.lshNearDupPairs(hot, "vec_id", "embedding",
      dim = 8, nPlanes = 4, minSim = 0.9)
    assert(uncapped.count() == 4950)
    // expected-occupancy sizing: n/2^p ~ target
    assert(Similarity.autoPlanes(1L << 30, 1024L) == 20)
    assert(Similarity.autoPlanes(1000L, 1024L) == 1)   // clamp low
    assert(Similarity.autoPlanes(Long.MaxValue, 1L) == 62) // clamp high
  }

  test("round-10 censuses survive empty/short docs under ANSI") {
    val tagged = corpus.withColumn("src",
      when(col("doc_id") < 2, "a").otherwise("b"))
    // diversity: group b is all short/empty docs — zero 5-gram-ish mass
    // for n=3 must yield (0, 0, null), never DIVIDE_BY_ZERO
    val div = graft.ops.Corpus.ngramDiversity(tagged, "src", "text")
      .collect().map(r => (r.getString(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3), Option(r.get(4)))).toMap
    // b: "short doc" (2 toks) + "" (1 empty tok) + "tiny" (1 tok) —
    // zero trigram mass, null ratio
    assert(div(("b", 3)) == (0L, 0L, None))
    assert(div(("b", 1)) == (4L, 4L, Some(1.0)))
    assert(div.keySet.size == 6)
    // pii census: empty text scores zero matches on every rule
    val pii = graft.ops.Scrub.piiCensus(tagged, "src", "text")
      .collect()
    assert(pii.length == 8 && pii.forall(_.getLong(3) >= 0L))
    // source sketch: a source with zero shingles (all docs < n words)
    // yields no pair rows and no error
    val sk = graft.ops.Corpus.sourceJaccardSketch(tagged, "src", "text", n = 5, k = 4)
      .collect()
    assert(sk.isEmpty, "a/a-dup vs all-short b share no shingles")
  }

  test("hashSplit is deterministic, honors fractions, covers every label") {
    val keys = (0L until 2000L).toDF("k")
    val split = TextAnalysis.hashSplit(col("k"),
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    val counts = keys.select(split.as("s")).groupBy("s").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.keySet == Set("train", "val", "test"))
    // md5 is uniform: 2000 keys land within a loose band of the fractions
    assert(counts("train") > 1500 && counts("train") < 1700, counts.toString)
    // pure function of the key: a second evaluation agrees row-for-row
    val twice = keys.select(split.as("a"), split.as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(twice == 0)
  }

  test("lengthBucket caps the long tail at maxBucket") {
    val docs = Seq("a b c", ("w " * 500).trim).toDF("text")
    val buckets = docs.select(TextAnalysis.lengthBucket(col("text"), 20, 9).as("b"))
      .collect().map(_.getLong(0)).sorted
    assert(buckets.toSeq == Seq(0L, 9L))
  }

  test("punctRatio is null (not an error) on an empty document") {
    val r = corpus.select(TextAnalysis.punctRatio(col("text")).as("pr"))
      .filter(col("pr").isNull).count()
    assert(r == 1L) // only the empty doc
  }

  test("cosine is null (not an error) against a zero vector") {
    val vecs = Seq(
      (0L, Array(1.0, 2.0, 3.0)),
      (1L, Array(0.0, 0.0, 0.0))
    ).toDF("id", "v")
    val sims = vecs
      .withColumn("sim", Similarity.cosine(col("v"), array(lit(1.0), lit(0.0), lit(0.0))))
      .orderBy("id").collect().map(r => Option(r.get(2)))
    assert(sims(0).isDefined && sims(1).isEmpty)
  }

  test("simhashMd5 tolerates empty text") {
    val r = corpus.select(Dedup.simhashMd5(col("text")).as("sh")).collect()
    assert(r.length == corpus.count())
  }

  test("DotProduct matches the interpreted fold bit-for-bit and survives codegen") {
    val vecs = (0 until 100).map { i =>
      (i.toLong, Array.tabulate(64)(j => math.sin(i * 64 + j)), Array.tabulate(64)(j => math.cos(i + j)))
    }.toDF("id", "a", "b")
    val fold = aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)
    val native = graft.functions.VectorExprs.dotProduct(col("a"), col("b"))
    val diffs = vecs.select(fold.as("f"), native.as("n"))
      .filter(col("f") =!= col("n")).count()
    assert(diffs == 0)
    // null array -> null result, not an error
    val n = vecs.select(graft.functions.VectorExprs.dotProduct(
      lit(null).cast("array<double>"), col("b")).as("d"))
      .filter(col("d").isNull).count()
    assert(n == 100)
  }

  test("winnowing expression matches the composable form and guards short docs") {
    // the reference semantics, composed from built-ins (O(n²) — test-only)
    def composable(text: org.apache.spark.sql.Column, k: Int, w: Int) = {
      val t = split(lower(trim(text)), "\\s+")
      val n = size(t)
      val grams = transform(sequence(lit(1), n - (k - 1)),
        i => md5(concat_ws(" ", slice(t, i, lit(k)))))
      val mins = transform(sequence(lit(1), n - (k - 1) - (w - 1)),
        j => array_min(slice(grams, j, lit(w))))
      when(n >= k + w - 1, array_distinct(mins)).otherwise(array().cast("array<string>"))
    }
    val docs = Seq(
      (0L, "a b c d e f g h i j k l m a b c d e f g h"),
      (1L, "the quick brown fox jumps over the lazy dog and runs far away"),
      (2L, "exactly eight words are needed for one window"),
      (3L, "seven words is one too few here"),
      (4L, "")
    ).toDF("doc_id", "text")
    val diff = docs.select(
        graft.ops.TextAnalysis.winnowingFingerprints(col("text"), 5, 4).as("fast"),
        composable(col("text"), 5, 4).as("slow"))
      .filter(not(col("fast") === col("slow"))).count()
    assert(diff == 0)
    val empties = docs.select(col("doc_id"),
        size(graft.ops.TextAnalysis.winnowingFingerprints(col("text"), 5, 4)).as("n"))
      .filter(col("n") === 0).select("doc_id").collect().map(_.getLong(0)).sorted
    assert(empties.toSeq == Seq(3L, 4L)) // 7 words and empty text -> no window
  }

  test("engine close() unpersists every cache it created") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val td = s"${Golden.RefRoot}/tests/test_data/integration_test1"
    val rules = graft.etl.Rules.fromFile(
      s"${Golden.RefRoot}/tests/test_V2/rules-v2.json", Golden.schema)
    val eng = new graft.etl.CarrotEngine(spark, Golden.schema, rules,
      src => graft.etl.CsvSource.read(spark, td, src))
    eng.run().values.foreach(_.count())
    assert((sc.getPersistentRDDs.keySet -- before).nonEmpty, "engine should have cached")
    eng.close()
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty,
      s"leaked caches: ${(sc.getPersistentRDDs.keySet -- before).toSeq.sorted}")
  }

  test("engine close() unpersists every cache, the metrics relation included (inline corpus)") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val (inputs, rules) = InlineCorpus.write()
    val eng = Golden.engine(inputs, rules)
    eng.run().values.foreach(_.count())
    eng.summary(0).collect()
    graft.etl.CarrotMetrics.runLogCounts(eng).collect()
    assert((sc.getPersistentRDDs.keySet -- before).nonEmpty, "engine should have cached")
    eng.close()
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty,
      s"leaked caches: ${(sc.getPersistentRDDs.keySet -- before).toSeq.sorted}")
  }

  test("scoped dedup unpersists its shingle cache") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    graft.ops.CacheScope.withScope { scope =>
      val n = Dedup.minhashLshPairs(corpus, "doc_id", "text",
        k = 4, rowsPerBand = 2, n = 5, scope = scope).count()
      assert(n == 1)
    }
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
  }
}
