package graft.search

import scala.collection.mutable.{ArrayBuffer, ArrayBuilder}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.index.{AnnIndex, IndexData}

/** The driver-resident legs of a cache-pinned artifact ([[IndexData.cached]]
  * builds one): a warm request's BM25 leg, vector leg and candidate fetch
  * read arrays on the driver and schedule no Spark job. Only the
  * phrase/near positions probes ([[allowed]] and a `restriction`) stay on
  * Spark, as in [[SparkLegs]]. Each piece is built once per loaded
  * instance:
  *
  *   - the impact-scored postings — every (term, doc_id, s) row of
  *     [[IndexData.impactScored]], the same join and per-row doubles the
  *     Spark BM25 leg computes, kept in the frame's row order with each
  *     row's partition, so a doc's sum adds its terms in the order Spark's
  *     aggregation meets them (see [[bm25TopK]]). `Cli.serveReady` builds
  *     it before the first request;
  *   - the fetch columns and embeddings of the documents;
  *   - the IVF lists, from the rows `ann.postings` holds;
  *   - the PQ codes, scored with [[graft.index.PqIndex.lutLongs]].
  *
  * The last three build on their first use. Vector distances are
  * [[AnnIndex.localCosineDist]], which AnnIndexSpec pins against the
  * codegen'd kernel; a NaN distance (zero-norm doc) is dropped, as the
  * [[graft.plans.CosineKnnJoin]] operator the Spark legs are rewritten
  * into drops it; and every cut orders by (round6, doc_id) as the Spark
  * legs do ([[ServedIndex.cut]]). A piece whose build fails (for
  * instance a collect above `spark.driver.maxResultSize`) is reported once
  * and served through the Spark legs until [[release]]. */
final class ServedIndex private[graft] (index: IndexData) extends ServeLegs {
  import ServedIndex._

  private val spark = index.documents.sparkSession
  private val onSpark = new SparkLegs(index)

  private val postings = new Part("BM25 postings", () => Postings.build(index.impactScored))
  private val docs = new Part("documents", () => Docs.build(index.documents))
  private val ivf = new Part("IVF lists", () => Lists.build(ServeLegs.annOf(index).postings))
  private val codes = new Part("PQ codes", () => Codes.build(ServeLegs.pqOf(index).codes))
  private def parts: Seq[Part[_ <: AnyRef]] = Seq(postings, docs, ivf, codes)

  /** Build the BM25 postings now (serving start-up). */
  def prepare(): Unit = postings.get

  /** Drop every resident piece; a later request rebuilds what it needs. */
  def release(): Unit = parts.foreach(_.release())

  /** Whether any piece is resident. */
  def resident: Boolean = parts.exists(_.resident)

  /** Spark's BM25 leg sums each doc's term contributions with a partial
    * sum per map partition, in row order, then adds the partials in
    * partition order. A `restriction` is a left-semi join the optimizer
    * pushes below that aggregate: as a broadcast join it keeps the
    * postings partitions (the same sums); as a sort-merge join it gathers a
    * doc's rows into one partition in scan order (one sequential sum).
    * The planner's choice is made on the restriction's size estimate
    * against the auto-broadcast threshold, and is replayed here. */
  def bm25TopK(terms: Seq[String], k: Int,
      restriction: Option[DataFrame]): Seq[(String, Double)] =
    postings.get match {
      case None => onSpark.bm25TopK(terms, k, restriction)
      case Some(p) =>
        val (ds, sums) = p.scores(terms.distinct, sequential = restriction.exists(!broadcastSemi(_)))
        val keep: Int => Boolean = restriction match {
          case None => _ => true
          case Some(r) =>
            val ids = r.select("doc_id").collect().map(x => String.valueOf(x.get(0))).toSet
            i => ids.contains(p.docIds(ds(i)))
        }
        val kept = ds.indices.filter(keep)
        cut(kept.size, i => p.docIds(ds(kept(i))), i => sums(kept(i)), k, desc = true)
    }

  def vectorTopK(qvec: Array[Float], k: Int, ann: (Int, Int)): Seq[(String, Double)] = {
    val (nprobe, shortlist) = ann
    if (shortlist > 0) {
      val pq = ServeLegs.pqOf(index)
      val probed =
        if (nprobe > 0) Some(ServeLegs.ivfPqOf(index, pq).probe(qvec, nprobe).toSet) else None
      (codes.get, docs.get) match {
        case (Some(c), Some(d)) =>
          val short = c.shortlist(pq.lutLongs(qvec), probed, shortlist)
          if (short.isEmpty) Seq.empty else d.topK(qvec, k, Some(short.toSet))
        case _ => onSpark.vectorTopK(qvec, k, ann)
      }
    } else if (nprobe > 0) {
      val a = ServeLegs.annOf(index)
      ivf.get.fold(onSpark.vectorTopK(qvec, k, ann))(_.topK(a.probe(qvec, nprobe), qvec, k))
    } else docs.get.fold(onSpark.vectorTopK(qvec, k, ann))(_.topK(qvec, k, None))
  }

  /** The resident columns are [[FetchCols]]; any other column list (the
    * `tokens` of the positions-less phrase fallback) is fetched by Spark. */
  def fetch(ids: Seq[String], cols: Seq[String]): Map[String, Row] =
    docs.get match {
      case Some(d) if cols == FetchCols => d.fetch(ids)
      case _ => onSpark.fetch(ids, cols)
    }

  def allowed(ids: Seq[String], probe: DataFrame => DataFrame): Set[String] =
    onSpark.allowed(ids, probe)

  private def broadcastSemi(r: DataFrame): Boolean = {
    val threshold = spark.sessionState.conf.autoBroadcastJoinThreshold
    threshold >= 0 && r.queryExecution.optimizedPlan.stats.sizeInBytes <= threshold
  }
}

object ServedIndex {

  /** The fetch columns a [[ServedIndex]] keeps, in the serving tail's order. */
  val FetchCols: Seq[String] =
    Seq("doc_id", "file_path", "header_path", "line_start", "line_end", "content")

  /** One lazily built, releasable piece. */
  private final class Part[T <: AnyRef](name: String, build: () => T) {
    // None: not built; Some(None): the build failed
    @volatile private var state: Option[Option[T]] = None

    def get: Option[T] = state.getOrElse(synchronized {
      if (state.isEmpty) state = Some(
        try Some(build())
        catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[graft] driver-resident $name not built " +
              s"(${e.getMessage}); serving it through Spark")
            None
        })
      state.get
    })

    def resident: Boolean = state.exists(_.isDefined)
    def release(): Unit = synchronized { state = None }
  }

  /** The first `k` of rows `0 until n` in the order of Spark's cut lines:
    * round6(value) ascending (descending when `desc`), then id ascending,
    * with NaN above every double and -0.0 equal to 0.0. Only rows that can
    * make the cut are rounded and sorted: round6 is monotone, so a row
    * whose value lies past the k-th best value's rounded line by more than
    * the rounding half-step cannot rank inside the cut. */
  private[search] def cut(n: Int, id: Int => String, value: Int => Double,
      k: Int, desc: Boolean): Seq[(String, Double)] = {
    if (k <= 0 || n == 0) return Seq.empty
    val sign = if (desc) -1.0 else 1.0
    val keys = new Array[Double](n)
    var finite = 0
    var i = 0
    while (i < n) {
      val v = value(i)
      if (!v.isNaN) { keys(finite) = sign * v; finite += 1 }
      i += 1
    }
    val bound =
      if (finite <= k) Double.PositiveInfinity
      else {
        java.util.Arrays.sort(keys, 0, finite)
        val line = AnnIndex.round6(sign * keys(k - 1))
        if (line.isInfinite) Double.PositiveInfinity
        else sign * line + 1e-6 + math.abs(line) * 1e-12
      }
    val cands = ArrayBuffer.empty[(Double, String, Double)]
    i = 0
    while (i < n) {
      val v = value(i)
      if (v.isNaN || sign * v <= bound) cands += ((AnnIndex.round6(v), id(i), v))
      i += 1
    }
    def norm(x: Double): Double = if (x == 0.0) 0.0 else x
    cands.sortWith { (x, y) =>
      val c = java.lang.Double.compare(norm(x._1), norm(y._1)) * (if (desc) -1 else 1)
      if (c != 0) c < 0 else x._2 < y._2
    }.iterator.take(k).map(c => (c._2, c._3)).toSeq
  }

  /** A string dictionary: each distinct string gets the next ordinal. */
  private final class Dict {
    private val ix = new java.util.HashMap[String, Integer]()
    val values = ArrayBuffer.empty[String]
    def apply(s: String): Int = {
      val i = ix.get(s)
      if (i != null) i.intValue
      else { ix.put(s, values.size); values += s; values.size - 1 }
    }
    def indexOf(s: String): Int = ix.getOrDefault(s, -1)
  }

  /** [[Dict]] over binary strings: a key is copied and decoded only when
    * it is new. */
  private final class Utf8Dict {
    private val ix = new java.util.HashMap[UTF8String, Integer]()
    val values = ArrayBuffer.empty[String]
    def apply(u: UTF8String): Int = {
      val i = ix.get(u)
      if (i != null) i.intValue
      else { ix.put(u.clone(), values.size); values += u.toString; values.size - 1 }
    }
  }

  /** The impact-scored postings as CSR arrays: row r (in the frame's row
    * order) is doc `rowDoc(r)` with contribution `rowS(r)`; partition p
    * holds rows [partStart(p), partStart(p + 1)); term t's rows are
    * `termRows(termStart(t) until termStart(t + 1))`, ascending. */
  private final class Postings(val docIds: Array[String], rowDoc: Array[Int],
      rowS: Array[Double], partStart: Array[Int], terms: Dict,
      termStart: Array[Int], termRows: Array[Int]) {

    private def partOf(r: Int): Int = {
      var lo = 0
      var hi = partStart.length - 1 // partStart(lo) <= r < partStart(hi)
      while (hi - lo > 1) {
        val mid = (lo + hi) >>> 1
        if (partStart(mid) <= r) lo = mid else hi = mid
      }
      lo
    }

    /** (doc ordinals, BM25 sums) of every doc matching a term of
      * `distinct`: per doc, a partial sum per partition in row order added
      * up in partition order (Spark's partial/final aggregation), or one
      * sequential sum in row order. */
    def scores(distinct: Seq[String], sequential: Boolean): (Array[Int], Array[Double]) = {
      val ts = distinct.map(terms.indexOf).filter(_ >= 0)
      val n = ts.map(t => termStart(t + 1) - termStart(t)).sum
      val keys = new Array[Long](n)
      var j = 0
      ts.foreach { t =>
        var r = termStart(t)
        while (r < termStart(t + 1)) {
          val row = termRows(r)
          keys(j) = (rowDoc(row).toLong << 32) | row
          j += 1
          r += 1
        }
      }
      java.util.Arrays.sort(keys)
      val docs = new ArrayBuilder.ofInt
      val sums = new ArrayBuilder.ofDouble
      j = 0
      while (j < n) {
        val d = (keys(j) >>> 32).toInt
        var total = 0.0
        var partial = 0.0
        var part = -1
        while (j < n && (keys(j) >>> 32).toInt == d) {
          val row = keys(j).toInt
          val p = if (sequential) 0 else partOf(row)
          if (p != part) {
            if (part >= 0) total += partial
            partial = 0.0
            part = p
          }
          partial += rowS(row)
          j += 1
        }
        docs += d
        sums += total + partial
      }
      (docs.result(), sums.result())
    }
  }

  private object Postings {
    /** One block per partition, in partition order: (term dictionary, term
      * per row, doc dictionary, doc per row, s per row). */
    private type Block = (Array[String], Array[Int], Array[String], Array[Int], Array[Double])

    /** Rows stay binary: a term or doc_id is decoded once per partition,
      * when it first enters the block's dictionary. */
    private def block(rows: Iterator[InternalRow]): Iterator[Block] = {
      val terms = new Utf8Dict
      val docs = new Utf8Dict
      val t = new ArrayBuilder.ofInt
      val d = new ArrayBuilder.ofInt
      val s = new ArrayBuilder.ofDouble
      rows.foreach { r =>
        t += terms(r.getUTF8String(0)); d += docs(r.getUTF8String(1)); s += r.getDouble(2)
      }
      Iterator((terms.values.toArray, t.result(), docs.values.toArray, d.result(), s.result()))
    }

    def build(impact: DataFrame): Postings = {
      val qe = impact.select("term", "doc_id", "s").queryExecution
      val blocks = SQLExecution.withNewExecutionId(qe, Some("served BM25 postings"))(
        qe.toRdd.mapPartitions(block).collect())
      val rows = blocks.map(_._2.length).sum
      val terms = new Dict
      val docs = new Dict
      val rowDoc = new Array[Int](rows)
      val rowS = new Array[Double](rows)
      val rowTerm = new Array[Int](rows)
      val partStart = new Array[Int](blocks.length + 1)
      var r = 0
      blocks.zipWithIndex.foreach { case ((bt, t, bd, d, s), b) =>
        partStart(b) = r
        val tg = bt.map(terms(_))
        val dg = bd.map(docs(_))
        var i = 0
        while (i < s.length) {
          rowTerm(r) = tg(t(i)); rowDoc(r) = dg(d(i)); rowS(r) = s(i)
          i += 1
          r += 1
        }
      }
      partStart(blocks.length) = r
      val nTerms = terms.values.size
      val termStart = new Array[Int](nTerms + 1)
      rowTerm.foreach(t => termStart(t + 1) += 1)
      var t = 0
      while (t < nTerms) { termStart(t + 1) += termStart(t); t += 1 }
      val fill = java.util.Arrays.copyOf(termStart, nTerms)
      val termRows = new Array[Int](rows)
      var row = 0
      while (row < rows) {
        val tt = rowTerm(row)
        termRows(fill(tt)) = row
        fill(tt) += 1
        row += 1
      }
      new Postings(docs.values.toArray, rowDoc, rowS, partStart, terms, termStart, termRows)
    }
  }

  /** The documents' fetch rows ([[FetchCols]]) and embeddings, in frame
    * order. `lastRow(id)` is the id's last row (a collect-to-map keeps the
    * last), `prevRow` chains each row to the previous row of its id. */
  private final class Docs(ids: Array[String], rows: Array[Row],
      emb: Array[Array[Float]], lastRow: java.util.HashMap[String, Integer],
      prevRow: Array[Int]) {

    def fetch(want: Seq[String]): Map[String, Row] =
      want.flatMap(id => Option(lastRow.get(id)).map(i => id -> rows(i))).toMap

    /** Exact cosine top-k over the embedded docs, or over those of `only`. */
    def topK(qvec: Array[Float], k: Int, only: Option[Set[String]]): Seq[(String, Double)] = {
      val sel = only match {
        case None => ids.indices.filter(i => emb(i) != null && ids(i) != null)
        case Some(set) => set.toSeq.flatMap { id =>
          Iterator.iterate(Option(lastRow.get(id)).fold(-1)(_.intValue))(prevRow(_))
            .takeWhile(_ >= 0).filter(emb(_) != null)
        }
      }
      val scored = sel.map(i => (ids(i), AnnIndex.localCosineDist(emb(i), qvec)))
        .filterNot(_._2.isNaN).toArray
      cut(scored.length, i => scored(i)._1, i => scored(i)._2, k, desc = false)
    }
  }

  private object Docs {
    def build(documents: DataFrame): Docs = {
      val hasEmb = documents.columns.contains("embedding")
      val all = documents.select((FetchCols.map(col) :+
        (if (hasEmb) col("embedding") else lit(null).cast("array<float>"))): _*).collect()
      val ids = all.map(_.getString(0))
      val rows = all.map(r => Row.fromSeq(r.toSeq.take(FetchCols.size)))
      val emb = all.map(r => if (r.isNullAt(6)) null else r.getSeq[Float](6).toArray)
      val lastRow = new java.util.HashMap[String, Integer]()
      val prevRow = ids.indices.map { i =>
        if (ids(i) == null) -1
        else Option(lastRow.put(ids(i), i)).fold(-1)(_.intValue)
      }.toArray
      new Docs(ids, rows, emb, lastRow, prevRow)
    }
  }

  /** The IVF inverted lists: cluster → (doc_ids, embeddings) of its rows. */
  private final class Lists(lists: Map[Int, (Array[String], Array[Array[Float]])]) {
    def topK(probed: Seq[Int], qvec: Array[Float], k: Int): Seq[(String, Double)] = {
      val scored = probed.distinct.flatMap(lists.get)
        .flatMap { case (ids, vecs) => ids.zip(vecs.map(AnnIndex.localCosineDist(_, qvec))) }
        .filterNot(_._2.isNaN).toArray
      cut(scored.length, i => scored(i)._1, i => scored(i)._2, k, desc = false)
    }
  }

  private object Lists {
    def build(annPostings: DataFrame): Lists = new Lists(
      annPostings.filter(col("embedding").isNotNull && col("doc_id").isNotNull)
        .select("cluster", "doc_id", "embedding").collect()
        .groupBy(_.getInt(0)).map { case (c, rs) =>
          c -> (rs.map(_.getString(1)), rs.map(_.getSeq[Float](2).toArray))
        })
  }

  /** The PQ codes rows: doc_id, codes (null when absent) and cluster
    * (`NoCluster` when the column or the value is absent). */
  private final class Codes(ids: Array[String], codes: Array[Array[Int]],
      cluster: Array[Int]) {

    /** The ADC shortlist: Σ_j lut(j)(codes(j)) as exact long sums over 1e6,
      * cut by (round6, doc_id). A row whose codes do not pair one-to-one
      * with the table has a null distance in Spark, which sorts first. */
    def shortlist(lut: Seq[Seq[Long]], probed: Option[Set[Int]], n: Int): Seq[String] = {
      val table = lut.map(_.toArray).toArray
      val sel = ids.indices.filter(i => probed.forall(_.contains(cluster(i))))
      val adist = sel.map { i =>
        val c = codes(i)
        if (c == null || c.length != table.length) Double.NegativeInfinity
        else {
          var acc = 0L
          var j = 0
          while (j < c.length) { acc += table(j)(c(j)); j += 1 }
          acc.toDouble / 1e6
        }
      }.toArray
      cut(sel.size, i => ids(sel(i)), i => adist(i), n, desc = false).map(_._1)
    }
  }

  private val NoCluster = Int.MinValue

  private object Codes {
    def build(codes: DataFrame): Codes = {
      val hasCluster = codes.columns.contains("cluster")
      val rows = codes.select(col("doc_id"), col("codes"),
        if (hasCluster) col("cluster") else lit(null).cast("int")).collect()
      new Codes(rows.map(_.getString(0)),
        rows.map(r => if (r.isNullAt(1)) null else r.getSeq[Int](1).toArray),
        rows.map(r => if (r.isNullAt(2)) NoCluster else r.getInt(2)))
    }
  }
}
