package graft.search

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.core.Schemas.Setting
import graft.embed.HashingEmbedder
import graft.index.{IndexData, IndexJob}

/** Per-leg parity of the serving seam: every [[ServeLegs]] call answered
  * by a cache-pinned instance's driver-resident [[ServedIndex]] must EQUAL
  * the same call on the [[SparkLegs]] of a plain load — ids, order and
  * doubles, NaN matching NaN, no tolerance — on a base artifact and on a
  * live view with one append segment that replaces a path. */
class ServeLegsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dim = 8
  private val he = new HashingEmbedder(dim)
  private val vocab = Seq("spark", "joins", "tables", "merge", "sorted", "fast",
    "windows", "streams", "rows", "database", "duck", "vector", "cosine",
    "ranking", "dense", "scores")

  /** 60 seeded docs over a 16-word vocabulary (so a doc's query terms land
    * in the same and in different postings files), plus: a zero-norm
    * embedding (NaN distance), a null embedding, and two pairs of
    * token-identical docs (equal BM25 scores and equal distances — ties at
    * every cut line, broken by doc_id). */
  private lazy val baseDir: String = {
    val rnd = new scala.util.Random(11)
    val plain = (0 until 60).map { i =>
      val toks = Seq.fill(3 + rnd.nextInt(7))(vocab(rnd.nextInt(vocab.size)))
      (f"d$i%02d", toks, Option(he.embed(Seq(toks.mkString(" "))).head))
    }
    val twins = Seq("t0", "t1").map(id => (id, Seq("spark", "merge", "rows"),
        Option(he.embed(Seq("spark merge rows")).head))) ++
      Seq("u0", "u1").map(id => (id, Seq("dense", "vector", "cosine", "ranking"),
        Option(he.embed(Seq("dense vector cosine ranking")).head)))
    val degenerate = Seq(
      ("dz", Seq("spark", "zero", "vector"), Option(Array.fill(dim)(0f))),
      ("dn", Seq("spark", "null", "vector"), None))
    val df = (plain ++ twins ++ degenerate)
      .map { case (id, toks, emb) => (id, toks.mkString(" "), toks, emb.orNull) }
      .toDF("doc_id", "content", "tokens", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
      .withColumn("file_path", concat(lit("docs/"), col("doc_id")))
      .withColumn("header_path", lit(""))
      .withColumn("line_start", lit(1)).withColumn("line_end", lit(2))
    val dir = Files.createTempDirectory("servelegs").toString
    IndexData.write(df, Seq(Setting("embedding_model", he.name),
      Setting("embedding_dim", dim.toString)).toDF(), dir)
    IndexJob.withPq(IndexJob.withAnn(IndexData.load(spark, dir), dir,
      annClusters = 3, annIters = 2), dir, pqCodes = 4)
    dir
  }

  /** A Markdown tree indexed with both sidecars, then one append segment
    * that replaces `a.md` and adds `c.md`. */
  private lazy val liveDir: String = {
    val docs = Files.createTempDirectory("servelegs-docs").toString
    val idx = Files.createTempDirectory("servelegs-live").toString + "/idx"
    def write(dir: String, name: String, text: String): Unit =
      Files.writeString(Paths.get(dir, name), text)
    def opts(scan: String, clear: Boolean) = IndexJob.Options(clear = clear,
      mergeMode = "append", trimPathPrefix = Some(s"file:$scan"),
      annClusters = 2, pqCodes = 2)
    val rnd = new scala.util.Random(5)
    (0 until 8).foreach { i =>
      val body = Seq.fill(12)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      write(docs, s"f$i.md", s"# F$i\n\n$body\n")
    }
    write(docs, "a.md", "# A\n\nspark merges sorted runs fast\n")
    IndexJob.run(spark, Seq(docs), idx, he, opts = opts(docs, clear = true))
    val delta = Files.createTempDirectory("servelegs-delta").toString
    write(delta, "a.md", "# A v2\n\nreplaced body about spark hash joins and merge tables\n")
    write(delta, "c.md", "# C\n\nhybrid ranking fuses dense vector scores with spark rows\n")
    IndexJob.run(spark, Seq(delta), idx, he, opts = opts(delta, clear = false))
    idx
  }

  private def same(a: Seq[(String, Double)], b: Seq[(String, Double)]): Boolean =
    a.length == b.length && a.zip(b).forall { case ((i, x), (j, y)) =>
      i == j && (x == y || (x.isNaN && y.isNaN)) }

  /** Runs `body` with the Spark legs of a plain load and the served legs
    * of a cache-pinned load of `dir`, then releases the pins. */
  private def withLegs(dir: String)(body: (IndexData, ServeLegs, ServeLegs) => Unit): Unit = {
    val warm = IndexData.load(spark, dir).cached()
    try {
      assert(warm.served.isDefined)
      body(warm, new SparkLegs(IndexData.load(spark, dir)), warm.served.get)
    } finally warm.uncacheAll(blocking = true)
  }

  private def checkBm25(label: String, onSpark: ServeLegs, served: ServeLegs,
      terms: Seq[String], restriction: Option[DataFrame] = None): Unit =
    Seq(1, 3, 100).foreach { k =>
      val (a, b) = (onSpark.bm25TopK(terms, k, restriction), served.bm25TopK(terms, k, restriction))
      assert(same(a, b), s"$label k=$k terms=$terms\n  spark =$a\n  served=$b")
    }

  private def checkVector(label: String, onSpark: ServeLegs, served: ServeLegs,
      qvec: Array[Float], ann: (Int, Int)): Unit =
    Seq(1, 2, 5, 100).foreach { k =>
      val (a, b) = (onSpark.vectorTopK(qvec, k, ann), served.vectorTopK(qvec, k, ann))
      assert(same(a, b), s"$label k=$k ann=$ann\n  spark =$a\n  served=$b")
    }

  private def queries(words: Seq[String], n: Int, seed: Int): Seq[Seq[String]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(n)(Seq.fill(1 + rnd.nextInt(5))(words(rnd.nextInt(words.size))))
  }

  private def bm25Cases(label: String, dir: String, words: Seq[String]): Unit =
    withLegs(dir) { (warm, onSpark, served) =>
      checkBm25(s"$label one term", onSpark, served, Seq("spark"))
      checkBm25(s"$label three terms", onSpark, served, Seq("spark", "merge", "rows"))
      checkBm25(s"$label repeated terms", onSpark, served, Seq("spark", "spark", "joins", "spark"))
      checkBm25(s"$label OOV only", onSpark, served, Seq("zzz", "qqq"))
      checkBm25(s"$label no terms", onSpark, served, Nil)
      queries(words, 40, 3).foreach(q => checkBm25(s"$label seeded", onSpark, served, q))
      // docs matching all of ≥3 query terms: the phrase-/near-first
      // restriction, under a broadcast and under a sort-merge semi join
      val pos = warm.positions.get
      val restricted = Seq(Seq("spark", "merge", "rows"), Seq("dense", "vector", "cosine"),
        Seq("spark", "joins", "merge"))
      Seq("10485760", "-1").foreach { threshold =>
        val was = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
        try restricted.foreach { ts =>
          val near = PhraseSearch.sloppyPhraseMatches(pos, ts, 12).select("doc_id")
          checkBm25(s"$label near-first (threshold $threshold)", onSpark, served, ts, Some(near))
          checkBm25(s"$label near-first + extra term (threshold $threshold)", onSpark, served,
            ts :+ "fast", Some(near))
        } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", was)
      }
    }

  private def vectorCases(label: String, dir: String, queryTexts: Seq[String]): Unit =
    withLegs(dir) { (warm, onSpark, served) =>
      val k = warm.ann.get.numClusters
      val n = warm.documents.count().toInt
      queryTexts.map(t => he.embed(Seq(t)).head).foreach { q =>
        checkVector(s"$label exact", onSpark, served, q, (0, 0))
        checkVector(s"$label ivf nprobe 1", onSpark, served, q, (1, 0))
        checkVector(s"$label ivf nprobe K", onSpark, served, q, (k, 0))
        checkVector(s"$label pq shortlist 3", onSpark, served, q, (0, 3))
        checkVector(s"$label pq shortlist ≥ corpus", onSpark, served, q, (0, n + 5))
        checkVector(s"$label ivf+pq shortlist 3", onSpark, served, q, (1, 3))
        checkVector(s"$label ivf+pq shortlist ≥ corpus", onSpark, served, q, (k, n + 5))
      }
    }

  private def fetchCases(label: String, dir: String): Unit =
    withLegs(dir) { (warm, onSpark, served) =>
      val ids = warm.documents.select("doc_id").as[String].collect().toSeq.sorted
      val want = ids.take(3) ++ ids.takeRight(2) :+ "absent-id"
      Seq(ServedIndex.FetchCols, ServedIndex.FetchCols :+ "tokens").foreach { cols =>
        val (a, b) = (onSpark.fetch(want, cols), served.fetch(want, cols))
        assert(a.keySet == want.filter(ids.contains).toSet, s"$label: ${a.keySet}")
        assert(a.view.mapValues(_.toSeq).toMap == b.view.mapValues(_.toSeq).toMap,
          s"$label cols=$cols\n  spark =$a\n  served=$b")
      }
      val probe: DataFrame => DataFrame = PhraseSearch.phraseMatches(_, Seq("spark", "merge"))
      assert(onSpark.allowed(ids, probe) == served.allowed(ids, probe), s"$label allowed")
    }

  test("BM25 leg: one, three, repeated, OOV-only and no terms, seeded " +
      "queries and near-first restrictions, on the base artifact") {
    bm25Cases("base", baseDir, vocab)
  }

  test("BM25 leg on a live view with an append segment replacing a path") {
    bm25Cases("live", liveDir, vocab :+ "replaced" :+ "hybrid")
  }

  test("vector legs: exact, IVF at nprobe 1 and K, PQ and IVF×PQ with a " +
      "shortlist below and at or above the corpus, zero-norm and null " +
      "embeddings, ties at the cut, k above the matches") {
    // "spark merge rows" is the twins' own text: distance ~0, tied by id
    vectorCases("base", baseDir,
      Seq("spark merge rows", "dense vector cosine ranking", "fast joins tables", "zero"))
    withLegs(baseDir) { (_, onSpark, served) =>
      // the zero-norm doc is NaN under every query and the kNN operator
      // drops NaN distances, so even k above the corpus never reaches it;
      // the null-embedding doc never appears either
      val all = served.vectorTopK(he.embed(Seq("spark")).head, 1000, (0, 0))
      assert(all.size == 64 && !all.exists(h => h._1 == "dz" || h._1 == "dn"), all)
      assert(same(all, onSpark.vectorTopK(he.embed(Seq("spark")).head, 1000, (0, 0))))
    }
  }

  test("vector legs on a live view with an append segment replacing a path") {
    vectorCases("live", liveDir, Seq("spark hash joins", "dense vector scores", "merge"))
  }

  test("fetch (an absent id included) and the positions probe, base and live") {
    fetchCases("base", baseDir)
    fetchCases("live", liveDir)
  }

  test("served BM25 ties at the cut break by doc_id like Spark's") {
    withLegs(baseDir) { (_, onSpark, served) =>
      val top = served.bm25TopK(Seq("spark", "merge", "rows"), 100, None)
      val (t0, t1) = (top.indexWhere(_._1 == "t0"), top.indexWhere(_._1 == "t1"))
      assert(t0 >= 0 && t1 == t0 + 1 && top(t0)._2 == top(t1)._2, top)
      assert(same(served.bm25TopK(Seq("spark", "merge", "rows"), t0 + 1, None),
        onSpark.bm25TopK(Seq("spark", "merge", "rows"), t0 + 1, None)))
    }
  }
}
