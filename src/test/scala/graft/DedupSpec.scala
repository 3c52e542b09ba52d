package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog and runs far away into the woods tonight"

  private lazy val docs = Seq(
    (1L, base),
    (2L, base), // exact dup of 1
    (3L, base.replace("tonight", "at dawn")), // near dup of 1
    (4L, "completely different content about spark query engines and columnar formats"),
    (5L, "yet another unrelated short text")).toDF("doc_id", "text")

  test("exact dedup groups duplicates under min doc_id") {
    val g = Dedup.exactGroups(docs).collect()
    assert(g.length == 4) // 5 docs, one exact-dup pair
    val dupGroup = g.find(_.getAs[Long]("n_copies") == 2L).get
    assert(dupGroup.getAs[Long]("doc_id") == 1L)
  }

  test("minhash LSH finds exact and near dups, skips unrelated") {
    val pairs = Dedup.minhashPairs(docs, minEst = 0.5)
      .collect().map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L)))
    assert(!pairs.exists { case (a, b) => b == 4L || b == 5L || a == 4L || a == 5L })
  }

  test("minhash est_jaccard is 1.0 for identical docs") {
    val p = Dedup.minhashPairs(docs, minEst = 0.5)
      .filter(col("a_id") === 1 && col("b_id") === 2).collect().head
    assert(p.getAs[Double]("est_jaccard") == 1.0)
  }

  test("simhash pairs: identical docs at hamming 0") {
    val pairs = Dedup.simhashPairs(docs, maxHamming = 4).collect()
      .map(r => ((r.getAs[Long]("a_id"), r.getAs[Long]("b_id")), r.getAs[Int]("hamming"))).toMap
    assert(pairs((1L, 2L)) == 0)
  }

  test("simhash pairs: a pair colliding in EVERY band is emitted exactly once") {
    // Identical docs share all 4 bands — 4 collision rows pre-dedup.
    // Guards the round-12 filter-before-dedup reorder: the hamming
    // filter now runs on the multiplied candidate stream, so the
    // output dedup must still collapse multi-band survivors to one row.
    val rows = Dedup.simhashPairs(docs, maxHamming = 4).collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id")))
    assert(rows.count(_ == (1L, 2L)) == 1)
    assert(rows.distinct.length == rows.length)
  }

  test("ngram jaccard: exact dup pair scores 1.0, computed sizes correct") {
    val pairs = Dedup.ngramJaccardPairs(docs, minJaccard = 0.5, maxDf = 50)
    val p12 = pairs.filter(col("a_id") === 1 && col("b_id") === 2).collect().head
    assert(p12.getAs[Double]("jaccard") == 1.0)
    assert(p12.getAs[Long]("a_sz") == p12.getAs[Long]("common"))
  }

  test("near-dup pipeline finds real near-dups in testdata") {
    val docs001 = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val n = Dedup.minhashPairs(docs001, minEst = 0.5).count()
    assert(n > 0, "sf0.001 documents contain near-dups the pipeline must find")
  }

  test("duplicateClusters merges transitive chains across components") {
    // chain 1-2-3 (1≈3 NOT directly paired) must collapse into one
    // cluster; 7-8 stays its own; 9 (pairless) does not appear
    val pairs = Seq((2L, 1L), (2L, 3L), (7L, 8L)).toDF("a_id", "b_id")
    val got = Dedup.duplicateClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L))
  }

  test("duplicateClusters converges on a long path graph") {
    // path 0-1-2-...-9: worst-case diameter for the propagation loop
    val pairs = (0L until 9L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val got = Dedup.duplicateClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === (0L to 9L).map(_ -> 0L).toMap)
  }

  test("incrementalAdmit rejects exact/near corpus dups, admits new-only dups") {
    // corpus: ids 1,3 (odd). new batch: ids 2,4,6,8 (even).
    //  2 = exact copy of 1 → exact_dup
    //  4 = near copy of 3 (one word changed) → near_dup
    //  6 = 8 = each other's copy but unseen by the corpus → both admitted
    val other =
      "completely different content about spark query engines and columnar formats today"
    val docs = Seq(
      (1L, base), (3L, other),
      (2L, base),
      (4L, other.replace("today", "and tomorrow")),
      (6L, "a fresh pair of twin documents arriving together in the very same batch"),
      (8L, "a fresh pair of twin documents arriving together in the very same batch"))
      .toDF("doc_id", "text")
    val got = Dedup.incrementalAdmit(docs, col("doc_id") % 2 === 0)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getBoolean(1), r.getBoolean(2), r.getBoolean(3)))).toMap
    assert(got(2L) == ((true, true, false)), s"2 should be exact+near dup: $got")
    assert(got(4L)._2 && !got(4L)._1 && !got(4L)._3, s"4 should be near-dup only: $got")
    assert(got(6L) == ((false, false, true)), s"6 is new to the corpus: $got")
    assert(got(8L) == ((false, false, true)), s"8 is new to the corpus: $got")
  }

  test("dupSubstringSpans merges overlapping windows into maximal spans") {
    // doc 1 and doc 2 share a 20-token run (tokens 5..24 of doc 1,
    // 0..19 of doc 2): five overlapping 16-gram starts in doc 1
    // (5,6,7,8,9... -> starts 5..9) must merge into ONE span of
    // exactly the shared run; doc 3 is unrelated (no spans row).
    val shared = (0 until 20).map(i => s"common$i").mkString(" ")
    val docs = Seq(
      (1L, "alpha beta gamma delta eps " + shared + " tail one two"),
      (2L, shared + " its own different ending here"),
      (3L, (0 until 30).map(i => s"unique$i").mkString(" "))
    ).toDF("doc_id", "text")
    val got = Dedup.dupSubstringSpans(docs, windowTokens = 16)
      .orderBy("doc_id").collect()
    assert(got.length == 2, s"doc 3 must not appear: ${got.mkString(";")}")
    val d1 = got(0)
    assert(d1.getAs[Long]("doc_id") == 1L)
    assert(d1.getAs[Long]("n_spans") == 1L, s"overlap must merge: $d1")
    // doc 1: shared run occupies token indexes 5..24 => span "5-24"
    assert(d1.getAs[String]("spans") == "5-24", s"got ${d1.getAs[String]("spans")}")
    assert(d1.getAs[Long]("dup_tokens") == 20L)
    val d2 = got(1)
    assert(d2.getAs[String]("spans") == "0-19", s"got ${d2.getAs[String]("spans")}")
    assert(d2.getAs[Long]("n_tokens") == 25L)
  }

  test("dupSubstringSpans flags within-doc repetition and separates distant spans") {
    // one doc repeats its own 16-token block twice with a long unique
    // gap between the copies: both copies are duplicated substrings
    // (corpus-wide count >= 2 includes same-doc), and the gap keeps
    // them as TWO spans, not one merged region.
    val block = (0 until 16).map(i => s"rep$i").mkString(" ")
    val gap = (0 until 20).map(i => s"gap$i").mkString(" ")
    val docs = Seq((1L, block + " " + gap + " " + block)).toDF("doc_id", "text")
    val got = Dedup.dupSubstringSpans(docs, windowTokens = 16).collect()
    assert(got.length == 1)
    assert(got(0).getAs[Long]("n_spans") == 2L, s"got ${got(0)}")
    assert(got(0).getAs[String]("spans") == "0-15,36-51", s"got ${got(0)}")
    assert(got(0).getAs[Long]("dup_tokens") == 32L)
    assert(got(0).getAs[Long]("dup_bp") == 10000L * 32 / 52)
  }

  test("ppjoinPairs: exact dup + near dup found, unrelated absent, scores exact") {
    val pairs = Dedup.ppjoinPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs((1L, 2L)) == 10000L, s"exact dup must score 10000: $pairs")
    assert(pairs.contains((1L, 3L)) && pairs.contains((2L, 3L)),
      s"near dup must clear 0.6: $pairs")
    assert(!pairs.keys.exists(p => p._1 == 4L || p._2 == 4L || p._2 == 5L),
      s"unrelated docs must not pair: $pairs")
  }

  test("ppjoinPairs completeness: prefix filtering loses NO pair vs brute force") {
    // randomized corpus with engineered overlap: mutated copies at
    // several mutation rates straddling the 0.6 threshold
    val rnd = new scala.util.Random(77)
    val vocab = Vector("alpha", "bravo", "charlie", "delta", "echo", "fox",
      "golf", "hotel", "india", "julie", "kilo", "lima")
    def fresh(n: Int) = Vector.fill(n)(vocab(rnd.nextInt(vocab.size)))
    val bases = Vector.fill(8)(fresh(30))
    val texts = (0 until 40).map { i =>
      val b = bases(i % 8)
      val mut = b.indices.map(j =>
        if (rnd.nextDouble() < (i % 5) * 0.1) vocab(rnd.nextInt(vocab.size))
        else b(j))
      (i.toLong, mut.mkString(" "))
    }
    val df = texts.toDF("doc_id", "text")
    val got = Dedup.ppjoinPairs(df).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // brute force: exact Jaccard over distinct word 3-grams, all pairs
    def gramsOf(t: String) =
      t.toLowerCase.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val gsets = texts.map { case (id, t) => id -> gramsOf(t) }.toMap
    val brute = (for {
      a <- texts.map(_._1); b <- texts.map(_._1) if a < b
      common = (gsets(a) & gsets(b)).size.toLong
      union = (gsets(a).size + gsets(b).size - common).toLong
      if union > 0 && 10000 * common >= 6000 * union
    } yield (a, b, 10000 * common / union)).toSet
    assert(got == brute,
      s"prefix filtering must be lossless: missing=${brute -- got} extra=${got -- brute}")
  }

  test("lshPlan: recovers the measured-good split and tracks the threshold") {
    // the hand calculation in the band-sizing note, as an assertion:
    // 64 hashes at threshold 0.7 pick the deployed r=8 split (curve
    // midpoint 0.77 — random s≈0.4 pairs ~never collide, s≥0.9 pairs
    // almost surely do)
    val (b, r) = Dedup.lshPlan(perms = 64, threshold = 0.7)
    assert((b, r) == (8, 8), s"got ($b, $r)")
    // monotonicity: a lower threshold needs fewer rows per band (the
    // curve midpoint (1/b)^(1/r) must move left), a higher one more
    val rows = Seq(0.3, 0.5, 0.7, 0.9).map(t => Dedup.lshPlan(64, t)._2)
    assert(rows == rows.sorted, s"rows must grow with threshold: $rows")
    // the S-curve midpoint of the chosen plan sits near the threshold
    Seq(0.5, 0.7, 0.9).foreach { t =>
      val (bb, rr) = Dedup.lshPlan(64, t)
      val mid = math.pow(1.0 / bb, 1.0 / rr)
      assert(math.abs(mid - t) < 0.25, s"t=$t plan=($bb,$rr) midpoint=$mid")
    }
    // collision-prob sanity at the chosen 0.85 plan
    assert(Dedup.lshCollisionProb(0.4, b, r) < 0.01)
    assert(Dedup.lshCollisionProb(0.95, b, r) > 0.95)
  }

  test("requireBlockPairBudget: exact pair count, loud contract error past the budget") {
    // 2 blocks of 50 rows each -> 2 * (50*49/2) = 2450 candidate pairs
    val blocked = Seq.tabulate(100)(i => ("en", i % 2)).toDF("lang", "bkt")
    // boundary passes: budget == exact count
    Dedup.requireBlockPairBudget(blocked, Seq("lang", "bkt"),
      maxBlockPairs = 2450L, scalePath = "d25")
    // one below refuses, and the error carries the count AND the
    // declared scale path (the 100 TB caller reads the fix, not a hang)
    val e = intercept[IllegalArgumentException] {
      Dedup.requireBlockPairBudget(blocked, Seq("lang", "bkt"),
        maxBlockPairs = 2449L,
        scalePath = "Dedup.ppjoinPairs-gated verification (d25)")
    }
    assert(e.getMessage.contains("2450"), e.getMessage)
    assert(e.getMessage.contains("d25"), e.getMessage)
    // empty input: zero pairs, any budget passes
    Dedup.requireBlockPairBudget(blocked.where(lit(false)),
      Seq("lang", "bkt"), maxBlockPairs = 0L, scalePath = "d25")
  }
  test("keptShinglesRelative refuses past its candidate-pair budget, naming the sketch paths") {
    val docs = Seq.tabulate(40)(i =>
      (i.toLong, "shared shingle text body " + (i % 3))).toDF("doc_id", "text")
    // default budget: runs fine on a tiny corpus
    assert(Dedup.keptShinglesRelative(docs).count() > 0)
    // budget 0: the cut's kept grams carry >0 candidate pairs -> refuse
    val e = intercept[IllegalArgumentException] {
      Dedup.keptShinglesRelative(docs, maxBlockPairs = 0L).count()
    }
    assert(e.getMessage.contains("quadratic"), e.getMessage)
    assert(e.getMessage.contains("d7/d11"), e.getMessage)
    assert(e.getMessage.contains("d24"), e.getMessage)
  }
}
