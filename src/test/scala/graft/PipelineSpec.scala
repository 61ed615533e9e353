package graft

import graft.functions.Hashes
import graft.operators._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Training-data pipeline operators vs in-JVM oracles on the driver's
  * documents/embeddings tables (sf0.001). */
class PipelineSpec extends AnyFunSuite {
  import TestSpark._

  private val dir = "/root/testdata/sf0.001"
  private lazy val docs = spark.read.parquet(s"$dir/documents.parquet").cache()
  private lazy val emb = spark.read.parquet(s"$dir/embeddings.parquet").cache()
  private lazy val docRows: Array[(Long, String)] =
    docs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))

  private def jaccard(a: String, b: String): Double = {
    val sa = Hashes.shingles(a).toSet
    val sb = Hashes.shingles(b).toSet
    if (sa.isEmpty || sb.isEmpty) 0.0
    else (sa & sb).size.toDouble / (sa | sb).size
  }

  private lazy val exactPairs: Set[(Long, Long)] = (for {
    i <- docRows.indices
    j <- (i + 1) until docRows.length
    if jaccard(docRows(i)._2, docRows(j)._2) >= 0.5
  } yield {
    val (a, b) = (docRows(i)._1, docRows(j)._1)
    (math.min(a, b), math.max(a, b))
  }).toSet

  test("ngram jaccard pairs == quadratic-scan oracle") {
    val got = Dedup.ngramJaccardPairs(docs, 0.5)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == exactPairs, s"got ${got.size}, expected ${exactPairs.size}")
    assert(exactPairs.nonEmpty, "fixture should contain planted near-dups")
  }

  test("minhash LSH finds near-dups with high recall, exact precision") {
    val got = Dedup.minhashLshPairs(docs, numHashes = 64, bands = 16,
      threshold = 0.5)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // precision is exact by construction (jaccard re-verified)
    assert(got.subsetOf(exactPairs))
    // recall: 16 bands x 4 rows at j>=0.5 -> P(miss) <= (1-0.5^4)^16 ~ 0.36
    // per pair, but planted dups have j~0.9 -> near-certain; demand >= 80%
    assert(got.size >= (exactPairs.size * 0.8).toInt,
      s"recall ${got.size}/${exactPairs.size}")
  }

  test("simhash pairs == quadratic hamming scan (banding is lossless <= 3)") {
    val sims = docRows.map { case (id, t) =>
      id -> Hashes.simhash32(t.split(" ").toSeq) }
    val brute = (for {
      i <- sims.indices
      j <- (i + 1) until sims.length
      h = java.lang.Long.bitCount(sims(i)._2 ^ sims(j)._2)
      if h <= 3
    } yield (math.min(sims(i)._1, sims(j)._1),
        math.max(sims(i)._1, sims(j)._1), h.toLong)).toSet
    val got = Dedup.simhashPairs(docs, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == brute, s"got ${got.size}, brute ${brute.size}")
  }

  test("exact dedup groups: distinct texts at this sf -> all singletons") {
    val g = Dedup.exact(docs)
    assert(g.count() == docs.count())
    assert(g.agg(max("n_docs")).first().getLong(0) == 1L)
  }

  test("near-dup survivors: components of the pair graph, min id kept") {
    import TestSpark.spark.implicits._
    val d = Seq(1L, 2L, 3L, 4L, 5L, 9L).map(i => (i, s"doc $i"))
      .toDF("doc_id", "text")
    // pair chain 1-2, 2-3 (one component) and 4-5; 9 isolated
    val pairs = Seq((1L, 2L, 9000L), (2L, 3L, 9000L), (4L, 5L, 9000L))
      .toDF("a", "b", "jacc_i4")
    val got = Dedup.survivorsFixed(d, pairs, 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L,
      9L -> 9L))
  }

  test("brute-force cosine top-k matches JVM oracle") {
    val vecs = emb.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        d += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
      }
      10000.0 * d / (math.sqrt(na) * math.sqrt(nb))
    }
    val expected = vecs.filter(_._1 < 10).flatMap { case (q, qv) =>
      vecs.filter(_._1 != q)
        .map { case (c, cv) => (q, c, math.round(cos(qv, cv))) }
        .sortBy { case (_, c, s) => (-s, c) }
        .take(5).zipWithIndex
        .map { case ((qq, c, s), i) => (qq, c, s, (i + 1).toLong) }
    }.toSet
    val got = Similarity.bruteTopK(emb, col("vec_id") < 10, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == expected)
  }

  test("LSH near-dup: exact precision, decent recall vs quadratic scan") {
    val brute = Dedup.embeddingNearDup(emb, 0.3).select("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshNearDup(emb, 0.3, bits = 8).select("a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(brute))
    assert(brute.nonEmpty)
    // 8 sign bits, cos>=0.3 (angle <= 72.5 deg): collision prob
    // (1 - theta/pi)^8 >= (1-0.4)^8 ~ 1.7% per pair... single-bucket LSH
    // recall is modest by design; just require it found something and
    // document the tradeoff (multi-probe/multi-table raises it).
    assert(lsh.nonEmpty)
  }

  test("ANN top-k: recall vs brute-force top-k") {
    def keyed(rows: Array[org.apache.spark.sql.Row]): Set[(Long, Long)] =
      rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = keyed(Similarity.bruteTopK(emb, col("vec_id") < 10, 5)
      .select("query_id", "neighbor_id").collect())
    val ann = keyed(
      Similarity.annTopK(emb, col("vec_id") < 10, 5, bits = 4, tables = 4)
        .select("query_id", "neighbor_id").collect())
    val recall = (ann & brute).size.toDouble / brute.size
    // 4 tables x (4 sign bits, multi-probe Hamming<=1): per-table candidate
    // prob ~= q^4 + 4q^3(1-q), unioned over 4 independent plane sets
    assert(recall >= 0.9, s"ANN recall@5 = $recall")
    assert(ann.size == brute.size) // buckets are big enough to fill k
  }

  test("ann_topk builds its bucket index inside the query, never on disk") {
    val idx = new java.io.File("target/graft-annidx")
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm))
      f.delete()
    }
    rm(idx)
    // a fresh session: no memo entry from an earlier spec in this JVM
    val rows = SparkEntry.queries("ann_topk")(spark.newSession(), dir).count()
    assert(rows == 50, s"ann_topk rows: $rows")
    assert(!idx.exists(), s"ann_topk wrote an index to $idx")
  }

  test("text analysis: token counts, quality, langid, fingerprint") {
    val tc = TextAnalysis.tokenCounts(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    docRows.foreach { case (id, t) =>
      assert(tc(id) == t.split(" ").length.toLong)
    }
    val q = TextAnalysis.quality(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    docRows.foreach { case (id, t) =>
      val toks = t.split(" ")
      val (nt, nc, sr, al) = q(id)
      assert(nt == toks.length && nc == t.length)
      assert(sr == math.round(10000.0 * toks.count(TextAnalysis.Stopwords.contains) / toks.length))
      assert(al == math.round(10000.0 * (t.length - toks.length + 1) / toks.length))
    }
    val fp = TextAnalysis.fingerprints(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    docRows.foreach { case (id, t) =>
      assert(fp(id) == Hashes.fingerprint(t.split(" ").toSeq))
    }
    val lang = TextAnalysis.langId(docs).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(lang.values.toSet.subsetOf(Set("en", "de", "fr", "es", "und")))
  }

  test("multimodal: real PNG decode recovers generated dims; resize; frames") {
    val media = Multimodal.synthesizeImages(docs)
    val meta = Multimodal.extractMeta(media)
    assert(meta.columns.toSeq ==
      Seq("doc_id", "width", "height", "format", "n_bytes"))
    val m = meta.collect()
    assert(m.length == docRows.length)
    m.foreach { r =>
      val (w, h) = Multimodal.imgDims(r.getLong(0))
      assert(r.getInt(1) == w && r.getInt(2) == h, s"dims of ${r.getLong(0)}")
      assert(r.getString(3) == "png")
      assert(r.getLong(4) > 8) // real encoded payload, not a token
    }
    // thumbnails decode back to <= maxDim in both dimensions
    val thumbs = Multimodal.resize(media, maxDim = 8).collect()
    assert(thumbs.length == docRows.length)
    thumbs.foreach { r =>
      val dec = Multimodal.decodeHeader(r.getAs[Array[Byte]](1))
      assert(dec.exists { case (w, h, f) => w <= 8 && h <= 8 && f == "png" })
    }
    // frame container round-trip: every 2nd frame, dims recovered
    val frames = Multimodal
      .frameSample(Multimodal.synthesizeVideos(docs), stride = 2).collect()
    val expected = docRows.map { case (id, _) =>
      id -> (0 until Multimodal.frameCount(id)).count(_ % 2 == 0) }.toMap
    val got = frames.groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    assert(got == expected)
    frames.foreach { r =>
      val (w, h) = Multimodal.frameDims(r.getLong(0), r.getInt(1))
      assert(r.getInt(2) == w && r.getInt(3) == h)
    }
  }
}
