package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextHash
import graft.functions.VectorOps
import graft.operators.{Dedup, Similarity, TextOps}

/** Specs for the training-data-pipeline operators: text analysis,
  * dedup family, and similarity search. */
class PipelineOpsSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  // ------------------------------------------------------------ TextHash
  test("charHash matches the cross-engine polynomial formula") {
    // expected values independently computed with the DuckDB fold
    val df = Seq("hello", "a", "").toDF("s")
      .select(TextHash.charHash(col("s")).as("h"))
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(99162322L, 97L, 0L))
  }

  test("tokens drops empty strings; shingles empty below 3 tokens") {
    val df = Seq("  a  b   c d  ", "x y", "").toDF("s").select(
      TextHash.tokens(col("s")).as("t"))
    assert(df.select(size(col("t"))).collect().map(_.getInt(0)).toSeq == Seq(4, 2, 0))
    val sh = df.select(TextHash.shingleHashes(TextHash.tokenHashes(col("t"))).as("sh"))
    assert(sh.select(size(col("sh"))).collect().map(_.getInt(0)).toSeq == Seq(2, 0, 0))
  }

  test("native hash expressions equal the HOF formulas on real data") {
    val bad = Tables.documents(spark, sf).select(
      (TextHash.charHashFast(col("text")) =!= TextHash.charHash(col("text"))).as("c1"),
      (TextHash.tokenHashesFast(col("text")) =!=
        TextHash.tokenHashes(TextHash.tokens(col("text")))).as("c2"),
      (TextHash.shingleHashesFast(col("text")) =!=
        TextHash.shingleHashes(TextHash.tokenHashes(TextHash.tokens(col("text"))))).as("c3"))
      .filter(col("c1") || col("c2") || col("c3"))
    assert(bad.isEmpty)
  }

  test("native token/stop counts equal the HOF formulas on real data") {
    // the HOF form of the stop score: tokens that are in `words`
    def stopScore(toks: Column, words: Seq[String]): Column =
      size(filter(toks, t => array_contains(array(words.map(lit): _*), t)))
    val stops = TextOps.stopWordsAll
    // a mixed-language probe set exercises the multi-byte (zh) tokens too
    val bad = Tables.documents(spark, sf).select(
      (TextHash.tokenCountFast(col("text")) =!=
        size(TextHash.tokens(col("text"))).cast("long")).as("c1"),
      (TextHash.stopCountFast(col("text"), stops) =!=
        stopScore(TextHash.tokens(col("text")), stops).cast("long")).as("c2"),
      (TextHash.stopCountFast(col("text"), Seq("the", "的")) =!=
        stopScore(TextHash.tokens(col("text")), Seq("the", "的")).cast("long")).as("c3"))
      .filter(col("c1") || col("c2") || col("c3"))
    assert(bad.isEmpty)
    // edge cases: empty string, all-whitespace, stop word at both ends
    val df = Seq("", "  \t\n", "the cat the", "der  die\tund", "x").toDF("t")
    val got = df.select(TextHash.tokenCountFast(col("t")).as("n"),
      TextHash.stopCountFast(col("t"), Seq("the", "der", "und")).as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((0L, 0L), (0L, 0L), (3L, 2L), (3L, 2L), (1L, 0L)))
  }

  // ------------------------------------------------------------- TextOps
  test("every text/dedup/similarity query runs and returns rows on sf0.001") {
    // q_shard_stitch is a detector whose positives (chunked-document
    // seams) the synthetic corpus doesn't plant — its empty result is
    // the CORRECT answer here; detection is proven on planted
    // fragments in the dedicated test below
    (TextOps.queries ++ Dedup.queries ++ Similarity.queries).foreach {
      case ("q_shard_stitch", fn) => assert(fn(spark, sf).count() == 0)
      case (name, fn) => assert(fn(spark, sf).count() > 0, s"$name returned no rows")
    }
  }

  test("shard-stitch detects planted document fragments") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft_stitch").toString
    val toks = (1 to 40).map(i => s"tok$i")
    // B continues A: A's last 8 tokens are B's first 8 (overlap ingest);
    // C is unrelated; D duplicates A's ending elsewhere in its middle
    // (no seam: its HEAD k-gram differs) and must not match
    val a = toks.take(24).mkString(" ")              // tok1..tok24
    val b = toks.slice(16, 40).mkString(" ")         // tok17..tok40
    val c = (1 to 20).map(i => s"other$i").mkString(" ")
    val rows = Seq((1L, a), (2L, b), (3L, c)).map { case (id, t) =>
      (id, t, "en", "synth", t.length.toLong)
    }
    spark.createDataFrame(rows)
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = try graft.operators.Dedup.shardStitch(spark, dir)
      .select("left_doc", "right_doc").collect().map(r => (r.getLong(0), r.getLong(1)))
    finally Materializer.clear()
    assert(got.toSeq == Seq((1L, 2L)), s"expected seam (1,2), got ${got.toSeq}")
  }

  test("token stats are internally consistent") {
    val bad = TextOps.tokenStats(spark, sf)
      .filter(col("n_distinct_tokens") > col("n_tokens") ||
        col("avg_token_len") <= 0 || col("n_tokens") <= 0)
    assert(bad.isEmpty)
  }

  test("quality score stays in [0, 1]") {
    val bad = TextOps.qualityScore(spark, sf)
      .filter(col("quality_score") < 0 || col("quality_score") > 1)
    assert(bad.isEmpty)
  }

  // --------------------------------------------------------------- Dedup
  test("leakage-safe split zeroes cross-split near-dup pairs and conserves docs") {
    val r = Dedup.leakageSafeSplit(spark, sf).collect()
    assert(r.nonEmpty)
    assert(r.forall(_.getAs[Long]("cross_pairs") == 0L))
    assert(r.map(_.getAs[Long]("n_docs")).sum == Tables.documents(spark, sf).count())
    // groups never exceed docs, and every split is one of the three
    assert(r.forall(x => x.getAs[Long]("n_groups") <= x.getAs[Long]("n_docs")))
    assert(r.map(_.getAs[String]("split")).toSet.subsetOf(Set("train", "val", "test")))
  }

  test("novelty curve conserves distinct shingles and covers every doc") {
    val r = Dedup.ngramNovelty(spark, sf).collect()
    assert(r.nonEmpty && r.forall(_.getLong(4) <= 1000000L))
    // every distinct shingle is novel exactly once (its first seer)
    val distinctSh = Tables.documents(spark, sf)
      .select(explode(TextHash.shingleHashesFast(col("text"))).as("sh"))
      .distinct().count()
    assert(r.map(_.getLong(3)).sum == distinctSh)
    // doc conservation (docs with >= 3 tokens each land in one bucket)
    val nDocs = Tables.documents(spark, sf)
      .filter(TextHash.tokenCountFast(col("text")) >= 3).count()
    assert(r.map(_.getLong(1)).sum == nDocs)
    // the first bucket contains the corpus's first doc: novelty there
    // must beat the overall rate (the curve starts at its ceiling)
    val overall = r.map(_.getLong(3)).sum.toDouble / r.map(_.getLong(2)).sum
    assert(r.head.getLong(4) >= math.floor(overall * 1e6).toLong)
  }

  test("exact dedup groups duplicate texts under the min doc_id") {
    // self-contained check on the real table: every keeper_id <= doc_id,
    // and keeper rows are never dups
    val d = Dedup.exactDedup(spark, sf)
    assert(d.filter(col("keeper_id") > col("doc_id")).isEmpty)
    assert(d.filter(col("doc_id") === col("keeper_id") && col("is_dup") === 1).isEmpty)
  }

  test("PII detection and redaction work on planted positives") {
    // the corpus itself is PII-free (q_pii_scan returns all-zero counts,
    // a release gate in its own right); the mechanism is proven here
    val df = Seq(
      ("reach me at jo.doe+x@mail-host.org or 212-555-1234",
        1L, 1L, 0L),
      ("server 10.0.255.7 answered; backup at 192.168.0.1",
        0L, 0L, 2L),
      ("no pii here at all", 0L, 0L, 0L),
      ("two mails: a@b.io c.d@e-f.museum and +1 555 123 4567",
        2L, 1L, 0L)).toDF("text", "e", "p", "i")
    val got = df.select(
      regexp_count(col("text"), lit("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}")).as("e2"),
      regexp_count(col("text"), lit("\\+?[0-9]{3}[- ][0-9]{3}[- ][0-9]{4}")).as("p2"),
      regexp_count(col("text"), lit("([0-9]{1,3}\\.){3}[0-9]{1,3}")).as("i2"),
      col("e"), col("p"), col("i"),
      TextOps.redacted(col("text")).as("red"), col("text"))
    got.collect().foreach { r =>
      assert(r.getAs[Int]("e2").toLong == r.getAs[Long]("e"), s"email count: $r")
      assert(r.getAs[Int]("p2").toLong == r.getAs[Long]("p"), s"phone count: $r")
      assert(r.getAs[Int]("i2").toLong == r.getAs[Long]("i"), s"ipv4 count: $r")
      val red = r.getAs[String]("red")
      assert(!red.contains("@") || red.contains("<EMAIL>"), s"unredacted email: $red")
      assert(!red.matches(".*([0-9]{1,3}\\.){3}[0-9]{1,3}.*"), s"unredacted ip: $red")
    }
    // on the real corpus: zero PII, redaction is the identity
    val scan = TextOps.piiScan(spark, sf)
    assert(scan.filter(col("has_pii") === 1).isEmpty)
  }

  test("containment matches a plain-Scala 3-gram set recount") {
    // shingle identity by token SEQUENCE (engine uses its hash; a
    // collision at 50-doc scale would fail this test — same argument as
    // the boilerplate-span recount)
    val WS = "[ \\t\\n\\f\\r]+"
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).trim.split(WS).filter(_.nonEmpty)
        .sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet))
    val df = docs.flatMap(_._2.toSeq).groupBy(identity).view.mapValues(_.size).toMap
    val capped = docs.map { case (id, ss) => (id, ss.filter(df(_) <= 20)) }
    val expected = (for {
      (a, sa) <- capped; (b, sb) <- capped
      if a != b && sa.nonEmpty
      common = (sa & sb).size
      score = common.toDouble / sa.size
      if score >= 0.5
    } yield (a, b, common.toLong, score)).toSeq.sortBy(e => (e._1, e._2))
    val got = try Dedup.containment(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    finally Materializer.clear()
    assert(got == expected, s"containment mismatch: got=${got.take(3)}… exp=${expected.take(3)}…")
    assert(got.nonEmpty, "no containment pairs at test SF — threshold drifted")
  }

  test("dedup clusters close the pair graph with one min-keeper per cluster") {
    try {
      val rows = Dedup.dedupClusters(spark, sf)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      assert(rows.nonEmpty)
      val byCluster = rows.groupBy(_._2)
      byCluster.foreach { case (cid, members) =>
        assert(members.map(_._1).min == cid, s"cluster $cid label is not its min doc")
        assert(members.count(_._3 == 1) == 1, s"cluster $cid keeper count != 1")
        assert(members.find(_._3 == 1).get._1 == cid, s"cluster $cid keeper != label")
      }
      // closure: both endpoints of every near-dup pair share a cluster
      val lbl = rows.map(r => r._1 -> r._2).toMap
      Dedup.ngramJaccard(spark, sf).select("d1", "d2")
        .collect().foreach { p =>
          val (a, b) = (p.getLong(0), p.getLong(1))
          assert(lbl(a) == lbl(b), s"pair ($a,$b) split across clusters")
        }
    } finally Materializer.clear()
  }

  test("minhash-LSH finds the same near-dup pairs as exact n-gram Jaccard") {
    // LSH with 4x4 bands at jaccard~0.99 has ~1 - (1-.99^4)^4 recall; on
    // the planted pairs this must equal the exact inverted-index result
    val exact = Dedup.ngramJaccard(spark, sf).select("d1", "d2").collect().toSet
    val lsh = Dedup.minhashLsh(spark, sf).select("d1", "d2").collect().toSet
    assert(lsh == exact, s"lsh=${lsh.size} exact=${exact.size}")
  }

  test("concurrent dedup queries share a materialized subtree safely") {
    // both queries materialize the same "shingles" tag; racing them must
    // produce exactly the sequential results (one thread writes inside
    // Materializer's lock, the other reuses the finished copy)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val seqNgram = Dedup.ngramJaccard(spark, sf).collect().toSeq
    val seqMinhash = Dedup.minhashLsh(spark, sf).collect().toSeq
    Materializer.clear()
    try {
      val f1 = Future(Dedup.ngramJaccard(spark, sf).collect().toSeq)
      val f2 = Future(Dedup.minhashLsh(spark, sf).collect().toSeq)
      assert(Await.result(f1, 120.seconds) == seqNgram)
      assert(Await.result(f2, 120.seconds) == seqMinhash)
    } finally Materializer.clear()
  }

  test("materialize reuses a copy until its input's files change") {
    // the staleness mechanism: a long-lived session that rewrites its
    // input dir must get a fresh copy holding the new rows, never a
    // silent reuse of the copy built from the old data — Bench/Verify
    // clear() between queries, but an interactive session has no referee
    import java.nio.file.{Files, Path, StandardCopyOption}
    import java.nio.file.attribute.FileTime
    import java.util.concurrent.TimeUnit.NANOSECONDS
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("graft-matstale")
    val table = dir.resolve("t.parquet")
    def write(xs: Long*): Unit =
      xs.toDF("x").coalesce(1).write.mode("overwrite").parquet(table.toString)
    def partFiles(d: Path): Seq[Path] = {
      val s = Files.list(d)
      try s.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toList
      finally s.close()
    }
    def copy(): org.apache.spark.sql.DataFrame =
      Materializer.materialize(Tables.table(spark, dir.toString, "t").filter(col("x") > 0))
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Long] = df.as[Long].collect().toSeq.sorted
    def copyDir(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.inputFiles.map(f => new org.apache.hadoop.fs.Path(f).getParent.toString).toSet
    Materializer.clear()
    try {
      write(1L)
      val c1 = copy()
      assert(copyDir(copy()) == copyDir(c1), "unchanged inputs must reuse the copy")
      // rewritten in place: new part files
      write(1L, 2L)
      val c2 = copy()
      assert(rows(c2) == Seq(1L, 2L) && copyDir(c2) != copyDir(c1))
      // same path and nanosecond mtime, other bytes: only the size differs
      val f = partFiles(table).head
      val (mtime, size) = (Files.getLastModifiedTime(f), Files.size(f))
      val other = Files.createTempDirectory("graft-matstale-b").resolve("t.parquet")
      Seq(1L, 2L, 5L).toDF("x").coalesce(1).write.parquet(other.toString)
      val src = partFiles(other).head
      def crc(p: Path): Path = p.resolveSibling(s".${p.getFileName}.crc")
      Files.copy(src, f, StandardCopyOption.REPLACE_EXISTING)
      // the local filesystem verifies the checksum sidecar on read
      Files.copy(crc(src), crc(f), StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(f, mtime)
      assert(Files.getLastModifiedTime(f) == mtime && Files.size(f) != size)
      val c3 = copy()
      assert(rows(c3) == Seq(1L, 2L, 5L) && copyDir(c3) != copyDir(c2))
      // one nanosecond later, same bytes
      val ns = Files.getLastModifiedTime(f).to(NANOSECONDS)
      Files.setLastModifiedTime(f, FileTime.from(ns + 1, NANOSECONDS))
      val c4 = copy()
      assert(rows(c4) == Seq(1L, 2L, 5L) && copyDir(c4) != copyDir(c3))
      // an added file
      Files.move(src, table.resolve("part-added.parquet"))
      val c5 = copy()
      assert(rows(c5) == Seq(1L, 1L, 2L, 2L, 5L, 5L) && copyDir(c5) != copyDir(c4))
    } finally Materializer.clear()
  }

  test("simhash recall on >=0.5-jaccard pairs is high (60-bit, hamming<=6)") {
    // SimHash is probabilistic: a 0.99-jaccard pair can still flip >6 of
    // 60 bits via token-multiplicity differences. Require >=90% recall.
    val jac = Dedup.ngramJaccard(spark, sf).select("d1", "d2").collect().toSet
    val sim = Dedup.simhashPairs(spark, sf).select("d1", "d2").collect().toSet
    val recall = jac.intersect(sim).size.toDouble / jac.size
    assert(recall >= 0.9, s"recall=$recall missing=${jac.diff(sim).size}/${jac.size}")
  }

  // ---------------------------------------------------------- Similarity
  test("dotF computes the sequential double fold") {
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)))
      .toDF("a", "b")
      .select(VectorOps.dotF(col("a"), col("b")).as("d"),
        VectorOps.normSq(col("a")).as("n"))
    val r = df.first()
    assert(r.getDouble(0) == 32.0 && r.getDouble(1) == 14.0)
  }

  test("brute-force ANN returns exactly top-k per query, cosine in [-1,1]") {
    val bf = Similarity.annBruteforce(spark, sf)
    val counts = bf.groupBy("query_id").count().select("count")
      .collect().map(_.getLong(0))
    assert(counts.forall(_ == 5))
    assert(bf.filter(col("cosine") < -1.0 || col("cosine") > 1.0).isEmpty)
    // ranks strictly ordered by cosine within each query
    val bad = bf.as("x").join(bf.as("y"),
        col("x.query_id") === col("y.query_id") && col("x.rnk") === col("y.rnk") - 1)
      .filter(col("x.cosine") < col("y.cosine"))
    assert(bad.isEmpty)
  }

  test("LSH ANN results are a subset of each query's bucket, ranked like brute force") {
    // every (query, neighbor) pair returned by LSH must appear in the
    // brute-force pair universe with the same cosine
    val bf = Similarity.annBruteforce(spark, sf)
      .select(col("query_id"), col("neighbor_id"), col("cosine").as("bf_cos"))
    val lsh = Similarity.annLsh(spark, sf)
      .join(bf, Seq("query_id", "neighbor_id"), "inner")
      .filter(col("cosine") =!= col("bf_cos"))
    assert(lsh.isEmpty)
  }

  test("knn-ivf scale form: one verdict per query, majority agreement with the exact knn") {
    import graft.operators.Similarity
    val exact = Similarity.knnClassify(spark, sf)
      .select("query_id", "predicted_label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val ivf = Similarity.knnClassifyIvf(spark, sf)
      .select("query_id", "predicted_label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // every query classified exactly once, same query universe
    assert(ivf.keySet == exact.keySet,
      s"query sets differ: ${ivf.keySet.diff(exact.keySet)} / ${exact.keySet.diff(ivf.keySet)}")
    assert(ivf.nonEmpty)
    // probe-bounded candidates may flip borderline votes; a majority of
    // predictions must still agree with the exact form
    val agree = exact.count { case (q, l) => ivf(q) == l }
    assert(agree * 2 >= exact.size,
      s"ivf-knn agrees on only $agree of ${exact.size} queries")
  }

  test("hardneg-ivf scale form: cross-label pairs with exact-form cosines, majority recovered") {
    import graft.operators.Similarity
    val exact = Similarity.hardNegatives(spark, sf)
      .select("anchor_id", "neighbor_id", "cosine").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val ivf = Similarity.hardNegativesIvf(spark, sf).collect()
    assert(ivf.nonEmpty)
    // structural: cross-label only, ≤ K per anchor, rnk contiguous from 1
    val byAnchor = ivf.groupBy(_.getLong(0))
    byAnchor.foreach { case (a, rows) =>
      assert(rows.forall(r => r.getInt(1) != r.getInt(4)),
        s"anchor $a mined a same-label pair")
      val rnks = rows.map(_.getInt(2)).sorted.toSeq
      assert(rnks == (1 to rows.length), s"anchor $a rnk gap: $rnks")
    }
    // every IVF pair that the exact top-k also mined carries the SAME
    // cosine (the probe prunes candidates, never perturbs the metric)
    ivf.foreach { r =>
      val key = (r.getLong(0), r.getLong(3))
      exact.get(key).foreach(c => assert(c == r.getDouble(5),
        s"cosine drift on $key: exact $c vs ivf ${r.getDouble(5)}"))
    }
    // probe-bounded candidates lose some true hard negatives; a majority
    // of the exact form's mined pairs must still be recovered
    val ivfPairs = ivf.map(r => (r.getLong(0), r.getLong(3))).toSet
    val recovered = exact.keys.count(ivfPairs)
    assert(recovered * 2 >= exact.size,
      s"ivf recovers only $recovered of ${exact.size} exact hard negatives")
  }

  test("retrieval-ivf scale form: exact corpus denominators, metrics within approx bounds") {
    import graft.operators.Similarity
    val exact = Similarity.retrievalEval(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getDouble(6))).toMap
    val ivf = Similarity.retrievalEvalIvf(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getDouble(6))).toMap
    assert(ivf.nonEmpty)
    // the IVF eval grades the same query universe (a query only drops
    // when its probed cells are empty — not the case on this fixture)
    assert(ivf.keySet == exact.keySet,
      s"query sets differ: ${ivf.keySet.diff(exact.keySet)} / ${exact.keySet.diff(ivf.keySet)}")
    // n_rel_corpus is the EXACT per-label denominator in both forms
    for ((q, (nrel, _)) <- exact)
      assert(ivf(q)._1 == nrel, s"query $q n_rel_corpus drifted: ${ivf(q)._1} vs $nrel")
    // ndcg grades the index against the exact ideal: mean degradation is
    // the recall cost of NPROBE cells — bounded, not zero
    val meanExact = exact.values.map(_._2).sum / exact.size
    val meanIvf = ivf.values.map(_._2).sum / ivf.size
    assert(meanIvf >= meanExact - 0.5,
      s"ivf mean ndcg $meanIvf collapsed vs exact $meanExact")
  }

  test("near-dup pairs are ordered v1 < v2 with cosine above threshold") {
    val nd = Similarity.embeddingNeardup(spark, sf)
    assert(nd.filter(col("v1") >= col("v2") || col("cosine") < 0.4).isEmpty)
  }

  test("weighted sample matches a plain-Scala Efraimidis-Spirakis recount") {
    import graft.functions.TextHashImpl
    val docs = Tables.documents(spark, sf).selectExpr("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expected = docs.map { case (id, t) =>
      val u = (TextHashImpl.polyHash(t) + 1).toDouble / (TextHashImpl.P + 1).toDouble
      val w = math.max(TextHashImpl.tokenCount(t), 1L)
      val keyMu = math.floor(math.log(u) * 1e6 + 0.5).toLong
      (id, w, keyMu.toDouble / w.toDouble)
    }.sortBy { case (id, _, k) => (-k, id) }.take(20).toSeq
    val got = TextOps.weightedSample(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == expected,
      s"weighted sample mismatch: got=${got.take(3)}… exp=${expected.take(3)}…")
    assert(got.forall(_._3 <= 0.0), "ES keys must be ln(u)/w <= 0")
  }

  test("dup spans are verbatim-equal token runs and token-maximal") {
    // soundness against the RAW text, not the hash pipeline: the claimed
    // (start_a, start_b, len) really is an identical token run, and it
    // cannot be extended by one token on either side (one-token
    // extension implies an adjacent matched 8-gram, which the island
    // merge would have absorbed — so this also exercises the merge).
    val docs = Tables.documents(spark, sf).selectExpr("doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        r.getString(1).trim.split("[ \t\n\f\r]+").filter(_.nonEmpty))
      .toMap
    val got = try Dedup.dupSpans(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3), r.getLong(4)))
    finally Materializer.clear()
    assert(got.nonEmpty, "no duplicated spans found — testdata drifted")
    for ((da, db, sa, sb, len) <- got) {
      val (ta, tb) = (docs(da), docs(db))
      val (ia, ib, l) = (sa - 1, sb - 1, len.toInt) // 1-based starts
      assert(l >= 12 && ia + l <= ta.length && ib + l <= tb.length,
        s"span out of range: ($da,$db,$sa,$sb,$len)")
      assert(ta.slice(ia, ia + l).sameElements(tb.slice(ib, ib + l)),
        s"span not verbatim: ($da,$db,$sa,$sb,$len)")
      val leftExtends = ia > 0 && ib > 0 && ta(ia - 1) == tb(ib - 1)
      val rightExtends = ia + l < ta.length && ib + l < tb.length &&
        ta(ia + l) == tb(ib + l)
      assert(!leftExtends && !rightExtends,
        s"span not maximal: ($da,$db,$sa,$sb,$len)")
    }
  }

  test("blocked edit-distance near-dup matches a plain-Scala DP recount") {
    def lev(a: String, b: String): Int = {
      val prev = Array.tabulate(b.length + 1)(identity)
      val cur = new Array[Int](b.length + 1)
      for (i <- 1 to a.length) {
        cur(0) = i
        for (j <- 1 to b.length)
          cur(j) = math.min(math.min(cur(j - 1) + 1, prev(j) + 1),
            prev(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
        Array.copy(cur, 0, prev, 0, cur.length)
      }
      prev(b.length)
    }
    val docs = Tables.documents(spark, sf)
      .selectExpr("doc_id", "lang", "n_chars DIV 40 AS band",
        "substring(text, 1, 48) AS pfx", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3),
        r.getString(4))).toSeq
    // candidate gate (round 10): a pair must share ≥1 sub-cap shingle OR
    // ≥1 same-index sub-cap prefix segment (the pigeonhole secondary) —
    // both recomputed independently via the plain-Scala hash twin
    import graft.functions.TextHashImpl
    val shingles: Map[Long, Set[Long]] = docs.map(d =>
      d._1 -> TextHashImpl.shingleHashes(TextHashImpl.tokenHashes(d._5)).toSet).toMap
    val df = shingles.values.toSeq.flatten.groupBy(identity).map { case (k, v) => k -> v.size }
    val kept: Map[Long, Set[Long]] =
      shingles.map { case (id, ss) => id -> ss.filter(df(_) <= 20) }
    val segsOf: Map[Long, Set[(Int, String)]] = docs.map { d =>
      d._1 -> (0 until 13).map { i =>
        val s = math.min(i * 48 / 13, d._4.length)
        val e = math.min((i + 1) * 48 / 13, d._4.length)
        (i, d._4.substring(s, e))
      }.toSet
    }.toMap
    val segDf = segsOf.values.toSeq.flatten.groupBy(identity).map { case (k, v) => k -> v.size }
    val keptSegs: Map[Long, Set[(Int, String)]] =
      segsOf.map { case (id, ss) => id -> ss.filter(segDf(_) <= 20) }
    val expected = docs.groupBy(d => (d._2, d._3)).toSeq.flatMap { case (_, g) =>
      for {
        a <- g; b <- g if a._1 < b._1
        if kept(a._1).exists(kept(b._1).contains) ||
          keptSegs(a._1).exists(keptSegs(b._1).contains)
        d = lev(a._4, b._4) if d <= 12
      } yield (a._1, b._1, a._2, d)
    }.sortBy(p => (p._1, p._2))
    val got =
      try graft.operators.Dedup.editNearDup(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getInt(3))).toSeq
      finally graft.Materializer.clear()
    assert(got == expected, s"edit near-dup mismatch: got=${got.take(3)} exp=${expected.take(3)}")
    assert(got.nonEmpty, "test data should contain at least one prefix near-dup")
  }

  test("lsh recall audit: counts reconcile and every verified pair was a candidate") {
    try {
      val r = graft.operators.Dedup.lshRecall(spark, sf).collect()
      assert(r.length == 1)
      val (nTrue, nCand, tp) =
        (r(0).getAs[Long]("n_true"), r(0).getAs[Long]("n_cand"), r(0).getAs[Long]("tp"))
      assert(nTrue > 0 && nCand > 0)
      assert(tp <= math.min(nTrue, nCand))
      assert(r(0).getAs[Long]("recall_ppm") == tp * 1000000L / nTrue)
      assert(r(0).getAs[Long]("precision_ppm") == tp * 1000000L / nCand)
      // the production query verifies candidates with exact jaccard, so
      // its output size can never exceed the candidate count — and true
      // pairs the bands MISSED (recall < 1) must equal n_true - tp
      val verified = graft.operators.Dedup.minhashLsh(spark, sf).count()
      assert(verified <= nCand, s"verified $verified > candidates $nCand")
    } finally graft.Materializer.clear()
  }

  test("soft-dedup weights: every doc weighted once, cluster mass ~1 doc") {
    try {
      val w = graft.operators.Dedup.softDedupWeights(spark, sf).collect()
      val nDocs = Tables.documents(spark, sf).count()
      assert(w.length == nDocs, "one weight row per document")
      assert(w.map(_.getAs[Long]("doc_id")).distinct.length == nDocs)
      w.foreach { r =>
        val (cs, ppm) = (r.getAs[Long]("csize"), r.getAs[Long]("weight_ppm"))
        assert(ppm == 1000000L / cs, s"weight not 1/csize: $r")
        if (cs == 1L) assert(ppm == 1000000L)
      }
      // each cluster's total expected mass is ~1 document (floor slack < csize ppm)
      w.groupBy(_.getAs[Long]("cluster_id")).foreach { case (cid, rows) =>
        val mass = rows.map(_.getAs[Long]("weight_ppm")).sum
        assert(mass <= 1000000L && mass > 1000000L - rows.length,
          s"cluster $cid mass $mass off by more than floor slack")
        // all members of one cluster agree on csize
        assert(rows.map(_.getAs[Long]("csize")).distinct.length == 1)
        assert(rows.length == rows.head.getAs[Long]("csize"))
      }
    } finally graft.Materializer.clear()
  }
}
