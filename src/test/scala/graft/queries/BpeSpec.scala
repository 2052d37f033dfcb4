package graft.queries

import graft.{SparkSpec, SparkEntry}

/** Hand-computed BPE training fixture: pins the pair-count weighting by
  * word frequency, the deterministic tie-break, overlapping-pair
  * counting vs non-overlapping greedy application ("aaa" counts (a,a)
  * twice but merges once), and chained merges ((a,b) then (ab,c)). */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  test("learned merges match the hand-derived sequence") {
    val dir = tempDir("bpe_fixture")
    Seq(
      (1L, "en", "ab ab ab ab ab"), // ab ×5
      (2L, "en", "abc abc abc"),    // abc ×3
      (3L, "en", "aaa")             // aaa ×1
    ).toDF("doc_id", "lang", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    // round 1: (a,b) = 5+3 = 8 beats (b,c)=3, (a,a)=2 (overlap counted)
    // round 2: after ab fuses — (ab,c) = 3 beats (a,a) = 2
    // round 3: (a,a) = 2; "aaa" merges greedily to [aa, a], not [aa, aa]
    // round 4: (aa,a) = 1 — exists only because round 3 was greedy
    val got = SparkEntry.queries("x_bpe_merges")(spark, dir)
      .as[(Int, String, String, Long)].collect().toSeq
    assert(got === Seq(
      (1, "a", "b", 8L),
      (2, "ab", "c", 3L),
      (3, "a", "a", 2L),
      (4, "aa", "a", 1L)))

    // the driver-resident arm (x_bpe_local → Bpe.trainLocal) learns the
    // identical table on the same fixture
    val local = SparkEntry.queries("x_bpe_local")(spark, dir)
      .as[(Int, String, String, Long)].collect().toSeq
    assert(local === got)
  }

  test("driver-resident trainer ≡ distributed trainer on random corpora") {
    // The 30k-merge scale arm must be the SAME function as the per-round
    // Spark loop: random word-frequency tables (small alphabet so pair
    // collisions, ties, chained merges and greedy overlaps all occur),
    // 8 merge rounds, full merge-table equality.
    val rnd = new scala.util.Random(9)
    for (trial <- 1 to 6) {
      val nWords = 12 + rnd.nextInt(20)
      val words = (1 to nWords).map { _ =>
        val len = 1 + rnd.nextInt(7)
        val w = (1 to len).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString
        w
      }.distinct.map(w => (w, 1L + rnd.nextInt(9)))
      val merges = 8
      val dist = TrainPrepQueries.bpeLearnDistributed(
        words.toDF("w", "f"), merges)
      val local = graft.ops.Bpe.trainLocal(words, merges)
      assert(local === dist, s"trial $trial diverged on $words")
    }
  }

  test("auto-selector: cap routes the arm, outputs equal either way") {
    // x_bpe_merges now routes through bpeLearnAuto (round-10 verdict
    // item 8): driver-resident under the type cap, distributed above.
    // Pin the SWITCH itself, not just output equality: the distributed
    // loop runs at least one Spark job per merge round, the driver arm
    // a constant couple (count + collect) — observable via the
    // scheduler. Then pin equality across the boundary.
    val words = Seq(("abab", 4L), ("abc", 3L), ("bca", 2L), ("aa", 5L))
      .toDF("w", "f")
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      })
    def jobsDuring(body: => Unit): Int = {
      // listener events are async; a short settle keeps counts honest
      Thread.sleep(300)
      jobs.set(0); body
      Thread.sleep(300)
      jobs.get
    }
    val merges = 5
    var local: Seq[(Int, String, String, Long)] = null
    var dist: Seq[(Int, String, String, Long)] = null
    val jLocal = jobsDuring {
      local = TrainPrepQueries.bpeLearnAuto(spark, words, merges)
    }
    val jDist = jobsDuring {
      dist = TrainPrepQueries.bpeLearnAuto(spark, words, merges, cap = -1L)
    }
    assert(local === dist, "arms diverged across the cap boundary")
    assert(jLocal < merges,
      s"driver arm ran $jLocal jobs — looks like the distributed loop")
    assert(jDist >= merges,
      s"forced-distributed arm ran only $jDist jobs for $merges rounds")
  }

  test("both arms fail identically when the corpus exhausts early") {
    // Round-9 advice: trainLocal used to silently truncate where the
    // distributed arm throws "corpus exhausted before merge N" — the
    // arms must be equal on ALL inputs, including pathological ones.
    // "ab" ×1 admits exactly one merge; asking for 3 must throw the
    // same message from both.
    val words = Seq(("ab", 1L))
    val exLocal = intercept[IllegalArgumentException] {
      graft.ops.Bpe.trainLocal(words, 3)
    }
    val exDist = intercept[IllegalArgumentException] {
      TrainPrepQueries.bpeLearnDistributed(words.toDF("w", "f"), 3)
    }
    assert(exLocal.getMessage.contains("corpus exhausted before merge 2"))
    assert(exDist.getMessage.contains("corpus exhausted before merge 2"))
  }

  test("driver-resident trainer handles production-scale merge counts") {
    // 2000 merges over a synthetic Zipf-ish vocabulary in well under a
    // second of driver CPU — the property that makes the two-stage split
    // viable where 2000 Spark jobs are not. (2000, not 30k, to keep the
    // suite fast; the incremental update makes cost per round O(affected
    // words), so rounds get CHEAPER as counts shrink.)
    val rnd = new scala.util.Random(7)
    val vocab = (1 to 5000).map { i =>
      val len = 2 + rnd.nextInt(10)
      ((1 to len).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString,
        (10000.0 / i).toLong + 1)
    }.distinct
    val t0 = System.nanoTime()
    val merges = graft.ops.Bpe.trainLocal(vocab, 2000)
    val dt = (System.nanoTime() - t0) / 1e9
    info(f"2000 merges over ${vocab.size} types in $dt%.2f s")
    assert(merges.size === 2000)
    assert(merges.map(_._1) === (1 to 2000))
    // counts are non-increasing? NOT a BPE invariant (a merge can create
    // a new high-frequency pair), but every count is positive
    assert(merges.forall(_._4 > 0))
    assert(dt < 30.0, f"driver-resident arm too slow: $dt%.2f s")
  }
}
