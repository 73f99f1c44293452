package graft

import graft.operators.DedupQueries
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Cluster-resolution edge cases that the oracle queries can't reach:
  * the planted-duplicate corpus always HAS near-dups, so the empty
  * candidate graph (a corpus with nothing to dedup) only shows up here.
  */
class DedupSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  /** A documents dir whose derived corpus yields ZERO LSH candidate
    * pairs: doc_ids 2..9 dodge the corpus()'s planted-copy strata
    * (%10==0 exact, %10==1 near), and the texts share no 3-shingle, so
    * no MinHash band can collide.
    */
  private lazy val noDupDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("nodup").toString
    val docs = (2L to 9L).map { i =>
      (i, (0 until 6).map(j => s"w${i}_$j").mkString(" "), "en", "synth", 40L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("clusterLabels on an empty candidate graph converges without NPE") {
    assert(DedupQueries.lshCandidatePairs(spark, noDupDir).count() == 0)
    // pre-fix this threw NullPointerException (sum over zero rows = NULL)
    val labels = DedupQueries.clusterLabels(spark, noDupDir)
    assert(labels.count() == 0)
  }

  test("d08/d09 run green over a corpus with nothing to dedup") {
    val clusters = SparkEntry.queries("d08_dedup_clusters")(spark, noDupDir)
    assert(clusters.count() == 0)
    val survivors = SparkEntry.queries("d09_dedup_survivors")(spark, noDupDir)
      .collect()
    // every doc is an unclustered original and survives
    assert(survivors.length == 1)
    val r = survivors.head
    assert(r.getAs[String]("origin") == "original")
    assert(r.getAs[Long]("n_docs") == 8L)
    assert(r.getAs[Long]("n_kept") == 8L)
    assert(r.getAs[Long]("n_dropped") == 0L)
  }

  test("label propagation converges in few rounds and labels are canonical") {
    DedupQueries.clearLabelsCache()
    val labels = DedupQueries.clusterLabels(spark, TestSpark.sfDir)
    // every canon must itself be a member's minimum: canon(x) ≤ x, and
    // the canon id appears as a doc with canon == itself (root property)
    val bad = labels.filter($"canon" > $"doc_id").count()
    assert(bad == 0, "a label exceeds its doc_id — propagation not at fixpoint")
    val roots = labels.filter($"canon" === $"doc_id")
      .select($"doc_id".as("root"))
    val orphans = labels.join(roots, labels("canon") === roots("root"), "left_anti")
    assert(orphans.count() == 0, "a cluster label is not itself a root")
  }

  test("substringSpans edge semantics: merge, ownership, sub-L immunity") {
    // token alphabet chosen so no window collides by accident
    def words(prefix: String, n: Int): String =
      (0 until n).map(i => s"${prefix}$i").mkString(" ")
    val base = words("a", 12)                      // a0..a11
    val docs = Seq(
      (1L, base),                                  // canonical owner
      (2L, base),                                  // exact copy → fully removed
      // shares a0..a8 (9 tokens → two overlapping 8-windows → ONE span)
      (3L, words("a", 9) + " " + words("x", 6)),
      // shares two DISJOINT 8-runs of doc 1 split by its own tokens:
      // a0..a7, then y-gap longer than L, then... doc 1 is only 12 long,
      // so take a0..a7 and the unrelated z-run shared with doc 5 instead
      (4L, words("a", 8) + " " + words("y", 9) + " " + words("z", 8)),
      (5L, words("z", 8) + " " + words("w", 4)),   // shares z0..z7 with 4
      // 7-token overlap with doc 1 — below L, must NOT flag
      (6L, words("a", 7) + " " + words("q", 8)),
      (7L, words("v", 5))                          // shorter than L
    ).toDF("doc_id", "text")
    val got = DedupQueries.substringSpans(docs, L = 8)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // doc 1 owns everything it shares; doc 7 too short; doc 6 sub-L;
    // doc 5 owns z (5 > 4? no — owner is MIN doc_id, so 4 owns z)
    assert(!got.contains(1L) && !got.contains(6L) && !got.contains(7L),
      s"owner/sub-L docs wrongly flagged: $got")
    assert(got(2L) == (1L, 12L, 12L), s"exact copy: ${got.get(2L)}")
    // doc 3: starts 0 and 1 overlap → one merged span of 9 tokens
    assert(got(3L) == (1L, 9L, 15L), s"overlap merge: ${got.get(3L)}")
    // doc 4: only the a-run is non-owned (it owns the z-run) → one span
    assert(got(4L) == (1L, 8L, 25L), s"doc4: ${got.get(4L)}")
    // doc 5: z-run owned by doc 4 → one 8-token span
    assert(got(5L) == (1L, 8L, 12L), s"doc5: ${got.get(5L)}")
  }

  test("labelsCache keys on applicationId and clears on demand") {
    DedupQueries.clearLabelsCache()
    val l1 = DedupQueries.clusterLabels(spark, TestSpark.sfDir)
    val l2 = DedupQueries.clusterLabels(spark, TestSpark.sfDir)
    assert(l1 eq l2, "second call must return the memoized DataFrame")
    DedupQueries.clearLabelsCache()
    val l3 = DedupQueries.clusterLabels(spark, TestSpark.sfDir)
    assert(!(l1 eq l3), "clearLabelsCache must force a re-resolution")
  }

  test("a cached labelsCache frame reads whole after a limit action") {
    DedupQueries.clearLabelsCache()
    val labels = DedupQueries.clusterLabels(spark, TestSpark.sfDir)
    // a partial first action on the cached frame…
    assert(labels.limit(1).collect().length == 1)
    // …and every later consumer of the same frame still reads every row
    val cached = DedupQueries.clusterLabels(spark, TestSpark.sfDir)
    assert(cached eq labels)
    val want = DedupQueries.propagateMinLabels(
      DedupQueries.lshCandidatePairs(spark, TestSpark.sfDir))
      .as[(Long, Long)].collect().toSet
    val got = cached.as[(Long, Long)].collect()
    assert(got.length == want.size && got.toSet == want)
  }

  test("d34 recovers planted span boundaries exactly at L, 2L-1, and 5L") {
    val rows = QueryDef.registry.find(_.name == "d34_varlen_substring_spans").get
      .build(spark, TestSpark.sfDir)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(rows.nonEmpty, "no planted receivers at this SF")
    // closed form: every receiver is fp-filler(5) + span(k) + fq-filler(5)
    // with k keyed on the original doc_id residue; the only shared grams
    // are the planted span, so exactly ONE island at [5, 5 + k)
    val perDoc = rows.groupBy(_._1)
    perDoc.foreach { case (docId, spans) =>
      assert(spans.size == 1, s"doc $docId: expected one span, got $spans")
      val (_, s, e, len) = spans.head
      val orig = docId - 6000000L
      val k = (orig % 3) match { case 0 => 8L; case 1 => 15L; case _ => 40L }
      assert(s == 5L && e == 5L + k && len == k,
        s"doc $docId (k=$k): got span [$s, $e) len $len")
    }
    // all three planted lengths must actually occur at this SF
    val lens = rows.map(_._4).toSet
    assert(lens == Set(8L, 15L, 40L), s"planted lengths seen: $lens")
  }

  test("d36 subscribed maintenance equals d28's incremental rebuild row-for-row") {
    def rows(name: String) =
      QueryDef.registry.find(_.name == name).get
        .build(spark, TestSpark.sfDir)
        .as[(Long, Long, Long)].collect().toSet
    val viaFeed = rows("d36_subscribed_label_maintenance")
    val direct = rows("d28_incremental_clusters")
    assert(viaFeed == direct && viaFeed.nonEmpty,
      s"feed-driven labels diverge: ${viaFeed.diff(direct).take(5)} vs ${direct.diff(viaFeed).take(5)}")
  }

  test("label STORE survives the cache clear: cold consumers read, not re-derive") {
    DedupQueries.clearLabelsCache()
    val first = DedupQueries.clusterLabels(spark, TestSpark.sfDir)
      .as[(Long, Long)].collect().sorted.toSeq
    // the store root clusterLabels derives for this (app, dir)
    val key = Integer.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(TestSpark.sfDir))
    val root = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_labels_${spark.sparkContext.applicationId}_$key").toString
    val t = new graft.storage.FactTable(root, spark)
    val v = t.snapshot().nextVersion
    assert(v > 0, "first consumer must have materialized the store")
    DedupQueries.clearLabelsCache()
    val second = DedupQueries.clusterLabels(spark, TestSpark.sfDir)
      .as[(Long, Long)].collect().sorted.toSeq
    assert(second == first, "cold read must return the stored labels")
    // append(txnId=0) is checked BEFORE any computation: a cold session
    // neither re-runs propagation nor lands a duplicate commit
    assert(t.snapshot().nextVersion == v,
      "cold consumer must not re-commit the label build")
  }
}
