package graft.analyze

/** Pluggable text analyzer (tokenizer), the engine-side counterpart of the
  * reference's Lindera morphological tokenizer (reference
  * `src/splitter.py:39-47`, `src/searcher.py:55-73`).
  *
  * Tokenization is a *model* concern, not an engine concern: the reference
  * stores tokens pre-computed in the `tokens` column and builds its FTS index
  * with `stemmer='none', stopwords='none'` (reference `src/db.py:143-150`)
  * precisely so the index is analyzer-agnostic. We keep the same contract:
  * whatever `Analyzer` produced the tokens at index time must also tokenize
  * the query at search time.
  *
  * REGISTRY REQUIREMENT: every analyzer passed to an index-building entry
  * point (`IndexJob.run`/`runTfIdf`/`runWord2Vec`, `IndexStream.start`) must
  * be representable in [[Analyzers]] — its name persists in the index
  * `settings` and search re-resolves it with `Analyzers.byName`, so an
  * unregistered analyzer fails FAST at index time rather than producing an
  * index that can never be searched consistently. Custom analyzers have two
  * supported routes: a dictionary layer over the built-ins
  * ([[DictionaryAnalyzer]], fully persistable), or passing an explicit
  * pre-registered name through `IndexJob.settingsFor`'s `analyzerName`
  * override and re-supplying the same Analyzer instance at search time.
  */
trait Analyzer extends Serializable {
  def tokenize(text: String): Seq[String]
}

/** Whitespace tokenizer — exactly `split(text, ' ')` semantics so that a SQL
  * oracle (`string_split(text, ' ')` in DuckDB, `split(text, ' ')` in Spark)
  * produces identical tokens. Used for the synthetic testdata corpus whose
  * `text` is single-space-joined words. */
object WhitespaceAnalyzer extends Analyzer {
  def tokenize(text: String): Seq[String] =
    if (text.isEmpty) Seq.empty
    else text.split(" ", -1).toSeq
}

/** Name ⇄ instance registry so an index can PERSIST which analyzer produced
  * its tokens (`settings.analyzer`) and search can re-resolve the same one —
  * the analyzer-consistency contract the reference keeps implicitly by
  * always running Lindera on both sides (reference `src/splitter.py:39-47`,
  * `src/searcher.py:55-73`). */
object Analyzers {
  val DefaultName = "default"
  private val DictPrefix = "dict:"
  private val LatticePrefix = "dict-lattice:"
  private val NormPrefix = "norm:"

  def nameOf(a: Analyzer): String = a match {
    case WhitespaceAnalyzer            => "whitespace"
    case CjkBigramAnalyzer             => "bigram"
    case DefaultAnalyzer               => DefaultName
    case d: DictionaryAnalyzer         => DictPrefix + d.encodedWords
    case l: LatticeDictionaryAnalyzer  => LatticePrefix + l.encodedWords
    case n: NormalizingAnalyzer => NormPrefix + n.form + ":" + nameOf(n.inner)
    case other => sys.error(
      s"analyzer ${other.getClass.getName} is not registered in Analyzers — " +
        "an unregistered name would persist in settings and make the index " +
        "unsearchable at query time (byName could never resolve it); " +
        "register the analyzer here before indexing with it")
  }

  def byName(name: String): Analyzer = name match {
    case "whitespace" => WhitespaceAnalyzer
    case "bigram"     => CjkBigramAnalyzer
    case DefaultName  => DefaultAnalyzer
    // "dict-lattice:" does not collide with the "dict:" prefix test ('-'
    // vs ':' at position 4), but keep the longer prefix first anyway so a
    // future prefix edit cannot silently shadow it
    case n if n.startsWith(LatticePrefix) =>
      LatticeDictionaryAnalyzer.fromEncoded(n.stripPrefix(LatticePrefix))
    case n if n.startsWith(DictPrefix) =>
      DictionaryAnalyzer.fromEncoded(n.stripPrefix(DictPrefix))
    case n if n.startsWith(NormPrefix) =>
      // norm:<FORM>:<inner name> — the form never contains ':', the inner
      // name may (dict:<base64>), so split on the FIRST colon after the form
      val rest = n.stripPrefix(NormPrefix)
      val cut = rest.indexOf(':')
      if (cut <= 0) sys.error(s"malformed analyzer name '$n' " +
        "(expected norm:<NFC|NFD|NFKC|NFKD>:<inner analyzer>)")
      NormalizingAnalyzer(rest.substring(0, cut), byName(rest.substring(cut + 1)))
    case other => sys.error(
      s"unknown analyzer '$other' (expected default, bigram, whitespace, " +
        "dict:<base64 wordlist>, dict-lattice:<base64 wordlist>, or " +
        "norm:<form>:<inner>)")
  }
}

/** Unicode-normalizing layer over any registered analyzer — the analyzer-
  * path face of the engine's `unicode_normalize` expression (round-17
  * directive #1): real tokenizers (Lindera among them, reference
  * `src/splitter.py:39-47`) fold character width and compatibility forms
  * BEFORE segmentation, so full-width ASCII, ligatures, and decomposed
  * accents index and query as the same terms. The fold runs as a
  * pre-tokenize rewrite of the text (content stays raw — normalization is
  * a token-space concern, like lower-casing); the already-normalized fast
  * path skips the re-encode exactly like [[graft.functions.UnicodeNormalize]].
  *
  * The form persists INSIDE the registry name (`norm:<FORM>:<inner>`), not
  * as a second settings key: the index's `analyzer` setting is then one
  * atomic (form, tokenizer) pairing — search re-resolves it byName and
  * folds the query identically, and a stale index-form/query-form pairing
  * is impossible by construction (two keys could tear; one name cannot).
  */
final case class NormalizingAnalyzer(form: String, inner: Analyzer)
  extends Analyzer {
  require(Set("NFC", "NFD", "NFKC", "NFKD")(form),
    s"normalize form must be NFC|NFD|NFKC|NFKD, got '$form'")
  require(!inner.isInstanceOf[NormalizingAnalyzer],
    "nested NormalizingAnalyzer — normalization is idempotent per form, " +
      "compose at most one fold over the tokenizer")

  @transient private lazy val f = java.text.Normalizer.Form.valueOf(form)

  def tokenize(text: String): Seq[String] =
    inner.tokenize(
      if (java.text.Normalizer.isNormalized(text, f)) text
      else java.text.Normalizer.normalize(text, f))
}

/** Dictionary-free CJK bigram analyzer — one step closer to the reference's
  * Lindera IPADIC segmentation (reference `src/splitter.py:39-47`) without a
  * native dictionary dependency: within a same-script run of CJK characters
  * it emits overlapping character bigrams (the classic Lucene-CJK
  * approximation — most Japanese content words are 2 kanji, so bigrams hit
  * real word boundaries far more often than unigrams and sharpen BM25's df
  * statistics); a lone CJK character still emits its unigram. Runs break at
  * script boundaries (Han→Kana etc.), which in Japanese usually IS a word
  * boundary (content word → particle/inflection). Latin/digit runs tokenize
  * exactly like [[DefaultAnalyzer]].
  *
  * Bigrammed script classes ([[scriptClass]]), by Unicode block: CJK
  * unified ideographs (with Extension A and the compatibility ideographs),
  * hiragana, katakana, and hangul syllables. Every other letter or digit
  * joins a lower-cased Latin run, so these are NOT bigrammed: the
  * iteration mark `々` (`時々abc` → `時`, `々abc`), half-width katakana
  * (`ｶﾀｶﾅ検索` → `ｶﾀｶﾅ`, `検索`), CJK Extension B and later (`𠮷野家` →
  * `𠮷`, `野家`), and full-width Latin (`ＡＢＣ検索` → `ａｂｃ`, `検索`). A
  * `norm:NFKC:` analyzer ([[NormalizingAnalyzer]]) folds the half-width
  * and full-width forms first — half-width katakana to katakana,
  * full-width Latin to ASCII — so under it those two cases tokenize as
  * their standard forms.
  *
  * Pluggable, not the default: tokens are data (SURVEY.md §7.4) — an index
  * built with one analyzer must be searched with the same one, and the
  * oracle-checked corpus surface stays on whitespace tokens.
  */
object CjkBigramAnalyzer extends Analyzer {
  /** The within-run bigram rule applied to an arbitrary contiguous CJK
    * span: split at script-class boundaries, then overlapping bigrams per
    * same-script run (a lone code point emits its unigram). The shared
    * fallback of both dictionary analyzers for spans no dictionary word
    * covers. */
  private[analyze] def bigramizeSpan(span: String,
      out: scala.collection.mutable.Builder[String, Seq[String]]): Unit = {
    var i = 0
    while (i < span.length) {
      val cls = scriptClass(span.codePointAt(i))
      var j = i
      while (j < span.length && scriptClass(span.codePointAt(j)) == cls)
        j += Character.charCount(span.codePointAt(j))
      val sub = span.substring(i, j)
      val cps = sub.codePoints().toArray
      if (cps.length == 1) out += sub
      else {
        var k = 0
        while (k < cps.length - 1) { out += new String(cps, k, 2); k += 1 }
      }
      i = j
    }
  }

  private[analyze] def scriptClass(cp: Int): Int = {
    val b = Character.UnicodeBlock.of(cp)
    if (b == Character.UnicodeBlock.CJK_UNIFIED_IDEOGRAPHS ||
      b == Character.UnicodeBlock.CJK_UNIFIED_IDEOGRAPHS_EXTENSION_A ||
      b == Character.UnicodeBlock.CJK_COMPATIBILITY_IDEOGRAPHS) 1
    else if (b == Character.UnicodeBlock.HIRAGANA) 2
    else if (b == Character.UnicodeBlock.KATAKANA) 3
    else if (b == Character.UnicodeBlock.HANGUL_SYLLABLES) 4
    else 0
  }

  def tokenize(text: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val latin = new StringBuilder
    val run = new java.util.ArrayList[String]()
    var runClass = 0
    def flushLatin(): Unit =
      if (latin.nonEmpty) { out += latin.toString; latin.clear() }
    def flushRun(): Unit = {
      val n = run.size()
      if (n == 1) out += run.get(0)
      else if (n > 1) {
        var i = 0
        while (i < n - 1) { out += run.get(i) + run.get(i + 1); i += 1 }
      }
      run.clear(); runClass = 0
    }
    var i = 0
    while (i < text.length) {
      val cp = text.codePointAt(i)
      val n = Character.charCount(cp)
      val sc = scriptClass(cp)
      if (sc != 0) {
        flushLatin()
        if (sc != runClass) flushRun()
        runClass = sc
        run.add(new String(Character.toChars(Character.toLowerCase(cp))))
      } else if (Character.isLetterOrDigit(cp)) {
        flushRun()
        latin.appendAll(Character.toChars(Character.toLowerCase(cp)))
      } else { flushRun(); flushLatin() }
      i += n
    }
    flushRun(); flushLatin()
    out.result()
  }
}

/** User-dictionary layer over the CJK bigram analyzer — the closest
  * dependency-free step toward the reference's Lindera IPADIC segmentation
  * (reference `src/splitter.py:39-47`): contiguous CJK text is segmented by
  * GREEDY LONGEST MATCH against a user-supplied wordlist (what a
  * morphological tokenizer's dictionary lookup does for the words it
  * knows), and only the spans no dictionary word covers fall back to the
  * [[CjkBigramAnalyzer]] rule (per-script overlapping bigrams; lone chars
  * as unigrams). Latin/digit runs tokenize exactly like [[DefaultAnalyzer]].
  *
  * Dictionary matching runs over the WHOLE contiguous CJK span before any
  * script split, so compound words mixing kanji and kana (消しゴム,
  * 押しボタン) match as units — exactly where pure script-run bigrams
  * break down. Fallback spans are then split at script boundaries as
  * before.
  *
  * The wordlist persists INSIDE the analyzer's registry name
  * (`dict:<base64 of sorted newline-joined words>`), so the index settings
  * row alone round-trips the full tokenization contract — search
  * re-resolves byName and gets bit-identical segmentation with no sidecar
  * file. Intended for user dictionaries (10s–1000s of words); a full
  * IPADIC-size lexicon belongs in a real morphological analyzer, not a
  * settings string.
  */
final case class DictionaryAnalyzer(words: Set[String])
  extends CjkSpanSegmenting {
  private val dict: Set[String] = words.map(_.toLowerCase)
  private val maxLen: Int = if (dict.isEmpty) 0 else dict.map(_.length).max

  /** Canonical persistable form: sorted, newline-joined, base64 (URL-safe,
    * no padding — settings values stay shell- and JSON-friendly). */
  def encodedWords: String = DictionaryAnalyzer.encode(dict)

  protected def segmentSpan(span: String,
      out: scala.collection.mutable.Builder[String, Seq[String]]): Unit = {
    var i = 0
    var unmatchedFrom = -1
    def flushUnmatched(upTo: Int): Unit =
      if (unmatchedFrom >= 0) {
        CjkBigramAnalyzer.bigramizeSpan(span.substring(unmatchedFrom, upTo), out)
        unmatchedFrom = -1
      }
    while (i < span.length) {
      // greedy longest dictionary match at i
      var hit = -1
      var l = math.min(maxLen, span.length - i)
      while (hit < 0 && l >= 1) {
        if (dict.contains(span.substring(i, i + l))) hit = l
        l -= 1
      }
      if (hit > 0) {
        flushUnmatched(i)
        out += span.substring(i, i + hit)
        i += hit
      } else {
        if (unmatchedFrom < 0) unmatchedFrom = i
        i += Character.charCount(span.codePointAt(i))
      }
    }
    flushUnmatched(span.length)
  }
}

object DictionaryAnalyzer {
  /** Canonical settings encoding shared by both dictionary analyzers:
    * sorted, newline-joined, base64 (URL-safe, no padding). */
  private[analyze] def encode(dict: Set[String]): String =
    java.util.Base64.getUrlEncoder.withoutPadding.encodeToString(
      dict.toSeq.sorted.mkString("\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))

  private[analyze] def decode(encoded: String): Set[String] =
    new String(
      java.util.Base64.getUrlDecoder.decode(encoded),
      java.nio.charset.StandardCharsets.UTF_8)
      .split("\n").toSet.filter(_.nonEmpty)

  def fromEncoded(encoded: String): DictionaryAnalyzer =
    DictionaryAnalyzer(decode(encoded))
}

/** Shared outer scan of the dictionary analyzers: walk the text once,
  * accumulating contiguous CJK spans (lower-cased) and latin/digit runs in
  * order; each complete CJK span is handed to [[segmentSpan]] — greedy
  * longest-match in [[DictionaryAnalyzer]], lattice shortest-path in
  * [[LatticeDictionaryAnalyzer]]. Latin/digit runs tokenize exactly like
  * [[DefaultAnalyzer]]. */
private[analyze] trait CjkSpanSegmenting extends Analyzer {
  /** Segment one contiguous, already lower-cased CJK span into `out`. */
  protected def segmentSpan(span: String,
      out: scala.collection.mutable.Builder[String, Seq[String]]): Unit

  final def tokenize(text: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val latin = new StringBuilder
    val run = new StringBuilder // contiguous CJK span, lower-cased
    def flushLatin(): Unit =
      if (latin.nonEmpty) { out += latin.toString; latin.clear() }
    def flushRun(): Unit =
      if (run.nonEmpty) { segmentSpan(run.toString, out); run.clear() }
    var i = 0
    while (i < text.length) {
      val cp = text.codePointAt(i)
      val n = Character.charCount(cp)
      if (CjkBigramAnalyzer.scriptClass(cp) != 0) {
        flushLatin()
        run.appendAll(Character.toChars(Character.toLowerCase(cp)))
      } else if (Character.isLetterOrDigit(cp)) {
        flushRun()
        latin.appendAll(Character.toChars(Character.toLowerCase(cp)))
      } else { flushRun(); flushLatin() }
      i += n
    }
    flushRun(); flushLatin()
    out.result()
  }
}

/** Lattice (Viterbi shortest-path) segmentation over the same user
  * wordlist contract as [[DictionaryAnalyzer]] — the dictionary face of
  * what Lindera/MeCab do over IPADIC (reference `src/splitter.py:39-47`,
  * `src/searcher.py:55-73`), minus the corpus-trained costs: build the
  * word lattice over each contiguous CJK span (one edge per dictionary
  * word matching at each position, plus a one-code-point "unknown" edge)
  * and take the min-cost path by dynamic programming. Where greedy
  * longest-match commits to a prefix word and strands the remainder
  * (いしや|き given {いし, いしや, やき}), the lattice picks the
  * globally-consistent いし|やき — the classic greedy-vs-Viterbi
  * disagreement class on Japanese compounds (round-20 directive #3).
  *
  * Cost model (public-knowledge unigram shape, deterministic, no trained
  * corpus): every dictionary word costs [[LatticeDictionaryAnalyzer.WordCost]]
  * regardless of length, so the path with the FEWEST words wins — which
  * prefers longer dictionary words, the word-cost dominance a trained
  * morphological analyzer exhibits on covered vocabulary; every unknown
  * code point costs [[LatticeDictionaryAnalyzer.UnknownCost]] > WordCost,
  * so dictionary coverage always beats unknown fallback. Equal-cost ties
  * resolve deterministically: a dictionary edge beats an unknown edge into
  * the same node, then the longer incoming edge wins. The winning path's
  * unknown stretches are merged and bigramized by the shared fallback
  * rule, identical to [[DictionaryAnalyzer]]'s unmatched spans — so on
  * text the dictionary doesn't cover at all, both analyzers (and the
  * registry's `bigram`) emit identical tokens.
  *
  * Persists as `dict-lattice:<base64 wordlist>` — same atomic
  * settings-name round-trip as `dict:` (search re-resolves byName, no
  * sidecar file). Same intended dictionary scale too: user wordlists,
  * not a full IPADIC lexicon.
  */
final case class LatticeDictionaryAnalyzer(words: Set[String])
  extends CjkSpanSegmenting {
  import LatticeDictionaryAnalyzer.{UnknownCost, WordCost}
  private val dict: Set[String] = words.map(_.toLowerCase)
  private val maxLen: Int = if (dict.isEmpty) 0 else dict.map(_.length).max

  /** Same canonical persistable form as [[DictionaryAnalyzer]]. */
  def encodedWords: String = DictionaryAnalyzer.encode(dict)

  /** The winning lattice path as (edgeText, viaDictionary) pairs —
    * unknown edges as single code points, pre-merge. Exposed as the test
    * seam that lets the property suite pin path optimality (total cost ==
    * brute-force minimum over all segmentations) without reverse-
    * engineering the merged bigram output. */
  private[analyze] def segmentPath(span: String): Seq[(String, Boolean)] = {
    val n = span.length
    // Viterbi over char positions 0..n. Edges start only where a previous
    // edge ended, and every edge ends on a code-point boundary (dictionary
    // words are whole-code-point strings; the unknown edge advances one
    // code point), so positions inside a surrogate pair stay at INF and
    // are never expanded.
    val INF = Long.MaxValue
    val cost = Array.fill(n + 1)(INF)
    val prev = new Array[Int](n + 1) // back-pointer: winning edge's start
    val viaDict = new Array[Boolean](n + 1)
    cost(0) = 0L
    def relax(from: Int, to: Int, c: Long, dictEdge: Boolean): Unit = {
      val better = c < cost(to) ||
        (c == cost(to) &&
          ((dictEdge && !viaDict(to)) ||
            (dictEdge == viaDict(to) && from < prev(to))))
      if (better) { cost(to) = c; prev(to) = from; viaDict(to) = dictEdge }
    }
    var i = 0
    while (i < n) {
      if (cost(i) != INF) {
        var l = math.min(maxLen, n - i)
        while (l >= 1) {
          if (dict.contains(span.substring(i, i + l)))
            relax(i, i + l, cost(i) + WordCost, dictEdge = true)
          l -= 1
        }
        relax(i, i + Character.charCount(span.codePointAt(i)),
          cost(i) + UnknownCost, dictEdge = false)
      }
      i += 1
    }
    // walk the back-pointers from the end, emit edges forward
    var path = List.empty[(String, Boolean)]
    var p = n
    while (p > 0) {
      path = (span.substring(prev(p), p), viaDict(p)) :: path
      p = prev(p)
    }
    path
  }

  protected def segmentSpan(span: String,
      out: scala.collection.mutable.Builder[String, Seq[String]]): Unit = {
    // merge consecutive unknown edges into one span for the bigram fallback
    val unk = new StringBuilder
    def flushUnknown(): Unit =
      if (unk.nonEmpty) {
        CjkBigramAnalyzer.bigramizeSpan(unk.toString, out); unk.clear()
      }
    segmentPath(span).foreach { case (text, isDict) =>
      if (isDict) { flushUnknown(); out += text } else unk.append(text)
    }
    flushUnknown()
  }
}

object LatticeDictionaryAnalyzer {
  /** Per-dictionary-word path cost — constant regardless of word length,
    * so min-cost ≡ fewest words over covered text. */
  private[analyze] val WordCost = 1L
  /** Per-unknown-code-point path cost; > [[WordCost]] so a single-char
    * dictionary word still beats the unknown edge over the same char. */
  private[analyze] val UnknownCost = 2L

  def fromEncoded(encoded: String): LatticeDictionaryAnalyzer =
    LatticeDictionaryAnalyzer(DictionaryAnalyzer.decode(encoded))
}

/** Default Unicode/CJK-aware tokenizer: lower-cases, emits runs of
  * letters/digits as single tokens, and each CJK ideograph as its own token
  * (unigram segmentation — a deterministic, dependency-free stand-in for the
  * reference's Lindera IPADIC segmentation, reference `src/splitter.py:39-47`).
  */
object DefaultAnalyzer extends Analyzer {
  private def isCjk(cp: Int): Boolean = {
    val b = Character.UnicodeBlock.of(cp)
    b == Character.UnicodeBlock.CJK_UNIFIED_IDEOGRAPHS ||
    b == Character.UnicodeBlock.CJK_UNIFIED_IDEOGRAPHS_EXTENSION_A ||
    b == Character.UnicodeBlock.CJK_COMPATIBILITY_IDEOGRAPHS ||
    b == Character.UnicodeBlock.HIRAGANA ||
    b == Character.UnicodeBlock.KATAKANA ||
    b == Character.UnicodeBlock.HANGUL_SYLLABLES
  }

  def tokenize(text: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    def flush(): Unit = if (cur.nonEmpty) { out += cur.toString; cur.clear() }
    var i = 0
    while (i < text.length) {
      val cp = text.codePointAt(i)
      val n = Character.charCount(cp)
      if (isCjk(cp)) {
        flush()
        out += new String(Character.toChars(Character.toLowerCase(cp)))
      } else if (Character.isLetterOrDigit(cp)) {
        cur.appendAll(Character.toChars(Character.toLowerCase(cp)))
      } else flush()
      i += n
    }
    flush()
    out.result()
  }
}
