package graft.perfbench

import graft.analyze.Analyzer
import graft.embed.Embedder
import graft.rerank.Reranker

/** Decorators that time calls into the program's `analyze`, `embed` and
  * `rerank` modules from outside: the traced request hands these to the
  * search in place of the plain instances. The tracer is transient, so a
  * copy shipped to an executor just delegates. */
final class TracedAnalyzer(inner: Analyzer, @transient tracer: Tracer) extends Analyzer {
  def tokenize(text: String): Seq[String] =
    if (tracer == null) inner.tokenize(text)
    else tracer.span("analyze.tokenize")(inner.tokenize(text))
}

final class TracedEmbedder(inner: Embedder, @transient tracer: Tracer) extends Embedder {
  def dim: Int = inner.dim
  def name: String = inner.name
  def embed(texts: Seq[String]): Seq[Array[Float]] =
    if (tracer == null) inner.embed(texts)
    else tracer.span("embed.query")(inner.embed(texts))
}

final class TracedReranker(inner: Reranker, @transient tracer: Tracer) extends Reranker {
  def name: String = inner.name
  def score(query: String, texts: Seq[String]): Seq[Double] =
    if (tracer == null) inner.score(query, texts)
    else tracer.span("rerank")(inner.score(query, texts))
}
