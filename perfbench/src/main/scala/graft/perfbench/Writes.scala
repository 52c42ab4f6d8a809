package graft.perfbench

import com.fasterxml.jackson.databind.JsonNode

import graft.analyze.DefaultAnalyzer
import graft.embed.HashingEmbedder
import graft.index.IndexJob

/** The write path beside serving: append merges of the seeded Markdown
  * batches `gen.append_batches` writes, compactions, and the check that a
  * batch's marker term finds the batch's new files once the serving handle
  * has reloaded. serve_append runs it inside its request loop; the traced
  * index_build run runs one cycle after its builds. */
object Writes {
  /** One append merge: its op, wall ms and artifact growth per input byte. */
  final case class Append(op: Op, ms: Double, bytesPerInputByte: Double)

  def append(ctx: Ctx, db: String, batch: JsonNode): Append = {
    val before = Main.dirBytes(db)
    val (_, op) = ctx.timed("append")(ctx.tracer.span("index.append") {
      IndexJob.run(ctx.spark, Seq(batch.get("dir").asText()), db,
        new HashingEmbedder(ServeWorkload.Dim), DefaultAnalyzer,
        IndexJob.Options(clear = false, mergeMode = "append"))
    })
    Append(op, (op.endNs - op.startNs) / 1e6,
      (Main.dirBytes(db) - before).toDouble / batch.get("bytes").asDouble())
  }

  /** `IndexJob.compact`: its op and wall seconds. */
  def compact(ctx: Ctx, db: String): (Op, Double) = {
    val (_, op) = ctx.timed("compact")(ctx.tracer.span("index.compact") {
      IndexJob.compact(ctx.spark, db)
    })
    (op, (op.endNs - op.startNs) / 1e9)
  }

  /** The marker check of batch number `ix`: `search(marker)` returns the
    * file paths of its hits (Left on error), which must hold every file of
    * the batch. Asks for 20 hits: a marker in an overlapped sub-split
    * section is in two chunks. Returns (check name, ok, detail). */
  def markerCheck(batch: JsonNode, ix: Int,
      search: String => Either[String, Seq[String]]): (String, Boolean, String) = {
    val marker = batch.get("marker").asText()
    val want = (0 until batch.get("files").asInt()).map(i => f"b$ix%03d_$i%05d.md").toSet
    search(marker) match {
      case Left(e) => (s"append_marker:$marker", false, e.take(300))
      case Right(paths) =>
        val found = paths.map(_.split('/').last).toSet
        (s"append_marker:$marker", want.subsetOf(found),
          s"want ${want.size} new docs, found ${want.intersect(found).size}")
    }
  }
}
