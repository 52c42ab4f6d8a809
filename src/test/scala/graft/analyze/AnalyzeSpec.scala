package graft.analyze

import org.scalatest.funsuite.AnyFunSuite

class AnalyzeSpec extends AnyFunSuite {

  test("WhitespaceAnalyzer splits on single spaces only") {
    assert(WhitespaceAnalyzer.tokenize("a b c") == Seq("a", "b", "c"))
    assert(WhitespaceAnalyzer.tokenize("") == Seq.empty)
    assert(WhitespaceAnalyzer.tokenize("one") == Seq("one"))
  }

  test("DefaultAnalyzer lower-cases and splits on non-alphanumerics") {
    assert(DefaultAnalyzer.tokenize("Hello, World! x2") == Seq("hello", "world", "x2"))
  }

  test("DefaultAnalyzer emits CJK ideographs as unigrams") {
    // mirrors the reference's per-morpheme segmentation granularity for CJK
    // (reference src/splitter.py:39-47 uses Lindera; we use unigrams)
    assert(DefaultAnalyzer.tokenize("全文検索とabc") ==
      Seq("全", "文", "検", "索", "と", "abc"))
  }

  test("CjkBigramAnalyzer: overlapping bigrams within a script run, " +
      "unigram singletons, script boundaries break runs") {
    // 2-kanji content words become single tokens — the granularity the
    // reference's Lindera reaches by dictionary (src/splitter.py:39-47)
    assert(CjkBigramAnalyzer.tokenize("全文検索") == Seq("全文", "文検", "検索"))
    // han→hiragana boundaries split runs (content word vs particle)
    assert(CjkBigramAnalyzer.tokenize("に関する情報") ==
      Seq("に", "関", "する", "情報"))
    // latin runs tokenize like DefaultAnalyzer, interleaved in order
    assert(CjkBigramAnalyzer.tokenize("DuckDBと全文検索API") ==
      Seq("duckdb", "と", "全文", "文検", "検索", "api"))
    assert(CjkBigramAnalyzer.tokenize("Hello, World! x2") ==
      Seq("hello", "world", "x2"))
    assert(CjkBigramAnalyzer.tokenize("") == Seq.empty)
    // katakana and hangul runs bigram too
    assert(CjkBigramAnalyzer.tokenize("エンジン") == Seq("エン", "ンジ", "ジン"))
    assert(CjkBigramAnalyzer.tokenize("한국어") == Seq("한국", "국어"))
  }

  test("CjkBigramAnalyzer properties hold on the reference sample fixture") {
    import java.nio.charset.StandardCharsets.UTF_8
    import java.nio.file.{Files, Paths}
    import java.util.Locale
    def checkFixture(src: String): Unit = {
      val lines = src.split("\n").toSeq.filter(_.nonEmpty)
      assert(lines.nonEmpty)
      lines.foreach { line =>
        val toks = CjkBigramAnalyzer.tokenize(line)
        // every token is a verbatim substring of the lower-cased source line
        // (Locale.ROOT: the analyzer lower-cases per code point, locale-free)
        toks.foreach(t => assert(line.toLowerCase(Locale.ROOT).contains(t),
          s"'$t' not in '$line'"))
        // CJK tokens are exactly 1 or 2 code points
        toks.filter(t => t.exists(_ >= 0x3040)).foreach { t =>
          val n = t.codePointCount(0, t.length)
          assert(n == 1 || n == 2, s"CJK token '$t' has $n code points")
        }
        // completeness: EVERY adjacent same-script CJK pair in the line is
        // emitted as a bigram — no position can be skipped, or a query term
        // overlapping it could never match
        val cps = line.codePoints().toArray
        def cls(cp: Int): Int = {
          val b = Character.UnicodeBlock.of(cp)
          if (b == Character.UnicodeBlock.CJK_UNIFIED_IDEOGRAPHS) 1
          else if (b == Character.UnicodeBlock.HIRAGANA) 2
          else if (b == Character.UnicodeBlock.KATAKANA) 3
          else 0
        }
        val expected = cps.sliding(2).collect {
          case Array(a, b) if cls(a) != 0 && cls(a) == cls(b) =>
            new String(Character.toChars(a)) + new String(Character.toChars(b))
        }.toSet
        val tokSet = toks.toSet
        expected.foreach(bg => assert(tokSet.contains(bg), s"missing bigram '$bg' in '$line'"))
      }
      // the doc's own vocabulary: a user query in reference terms matches
      val docToks = CjkBigramAnalyzer.tokenize(src).toSet
      assert(CjkBigramAnalyzer.tokenize("全文検索").forall(docToks.contains))
      assert(docToks.contains("duckdb"))
    }
    // the repo's fixture, written to the shape of the reference's
    // sample_docs/sample.md: H1 + two H2 sections of Japanese prose mixing
    // kanji, kana, katakana with ー, Latin words, digits and 、。
    val res = getClass.getResourceAsStream("/graft/analyze/sample.md")
    assert(res != null, "test resource /graft/analyze/sample.md is missing " +
      "from the test classpath (src/test/resources/graft/analyze/sample.md)")
    checkFixture(try new String(res.readAllBytes(), UTF_8) finally res.close())
    // the reference checkout's own file, wherever it is present
    val reference = Paths.get("/root/reference/sample_docs/sample.md")
    if (Files.isRegularFile(reference))
      checkFixture(new String(Files.readAllBytes(reference), UTF_8))
  }

  test("DictionaryAnalyzer: longest match wins; fallback spans bigram-ize; " +
      "mixed-script compounds match as units") {
    val a = DictionaryAnalyzer(Set("全文検索", "検索", "エンジン"))
    // greedy longest match: 全文検索 beats its substring 検索
    assert(a.tokenize("全文検索エンジン") == Seq("全文検索", "エンジン"))
    // the span no dictionary word covers falls back to the bigram rule
    assert(a.tokenize("意味検索") == Seq("意味", "検索"))
    // latin interleaves exactly like the other CJK analyzers
    assert(a.tokenize("Spark検索API") == Seq("spark", "検索", "api"))
    // a kanji+kana compound matches as a unit — the case where pure
    // script-run bigrams structurally cannot (the run splits at し/ゴ)
    val b = DictionaryAnalyzer(Set("消しゴム"))
    assert(b.tokenize("消しゴムを買う") == Seq("消しゴム", "を", "買", "う"))
    assert(CjkBigramAnalyzer.tokenize("消しゴム") != Seq("消しゴム"))
  }

  test("DictionaryAnalyzer: registry name round-trips the wordlist; " +
      "empty dictionary degenerates to the bigram analyzer") {
    val a = DictionaryAnalyzer(Set("全文検索", "エンジン"))
    val name = Analyzers.nameOf(a)
    assert(name.startsWith("dict:"))
    val resolved = Analyzers.byName(name)
    Seq("全文検索エンジンの意味検索", "DuckDBと全文検索API").foreach { s =>
      assert(resolved.tokenize(s) == a.tokenize(s), s)
    }
    // settings-value round-trip is exact: re-encoding yields the same name
    assert(Analyzers.nameOf(resolved.asInstanceOf[DictionaryAnalyzer]) == name)

    val empty = DictionaryAnalyzer(Set.empty)
    Seq("全文検索エンジン", "に関する情報", "DuckDBと全文検索API",
        "ひらがなとカタカナ", "한국어 텍스트", "Hello, World! x2").foreach { s =>
      assert(empty.tokenize(s) == CjkBigramAnalyzer.tokenize(s), s)
    }
  }

  test("LatticeDictionaryAnalyzer: Viterbi shortest-path segments where " +
      "greedy longest-match strands a remainder; agrees where greedy is optimal") {
    val words = Set("いし", "やき", "いしや")
    val greedy = DictionaryAnalyzer(words)
    val lattice = LatticeDictionaryAnalyzer(words)
    // greedy commits to いしや and strands き (unigram fallback)…
    assert(greedy.tokenize("いしやき") == Seq("いしや", "き"))
    // …the lattice prefers the 2-word covering path (fewest-words cost)
    assert(lattice.tokenize("いしやき") == Seq("いし", "やき"))
    // same class on a kanji compound
    val w2 = Set("水道水", "水道", "水源")
    assert(DictionaryAnalyzer(w2).tokenize("水道水源") == Seq("水道水", "源"))
    assert(LatticeDictionaryAnalyzer(w2).tokenize("水道水源") == Seq("水道", "水源"))
    // where greedy is already globally optimal the two agree
    val w3 = Set("全文検索", "検索", "エンジン")
    assert(LatticeDictionaryAnalyzer(w3).tokenize("全文検索エンジン") ==
      Seq("全文検索", "エンジン"))
    // mixed-script compounds match as units across the kanji/kana boundary,
    // and uncovered trailing text falls back exactly like dict:
    assert(LatticeDictionaryAnalyzer(Set("消しゴム")).tokenize("消しゴムを買う") ==
      Seq("消しゴム", "を", "買", "う"))
    // latin/digit runs interleave like every other CJK analyzer
    assert(lattice.tokenize("Sparkいしやき2") ==
      Seq("spark", "いし", "やき", "2"))
    assert(lattice.tokenize("") == Seq.empty)
  }

  test("LatticeDictionaryAnalyzer: registry round-trip (dict-lattice: name); " +
      "distinct from dict:; empty dictionary degenerates to bigrams; " +
      "norm: wrapper composes over the colon-bearing name") {
    val a = LatticeDictionaryAnalyzer(Set("いし", "やき"))
    val name = Analyzers.nameOf(a)
    assert(name.startsWith("dict-lattice:"))
    val resolved = Analyzers.byName(name)
    assert(resolved == a)
    Seq("いしやき", "DuckDBと全文検索API").foreach { s =>
      assert(resolved.tokenize(s) == a.tokenize(s), s)
    }
    assert(Analyzers.nameOf(resolved) == name)
    // same wordlist, different algorithm → DIFFERENT persisted name: an
    // index built greedy is never silently searched lattice or vice versa
    assert(Analyzers.nameOf(DictionaryAnalyzer(Set("いし", "やき"))) != name)
    // empty dictionary: the all-unknown path ≡ the bigram rule, like dict:
    val empty = LatticeDictionaryAnalyzer(Set.empty)
    Seq("全文検索エンジン", "に関する情報", "DuckDBと全文検索API",
        "한국어 텍스트", "Hello, World! x2").foreach { s =>
      assert(empty.tokenize(s) == CjkBigramAnalyzer.tokenize(s), s)
    }
    // norm:<form>:dict-lattice:<base64> resolves through the first-colon
    // split (the inner name itself carries colons)
    val wrapped = NormalizingAnalyzer("NFKC", a)
    assert(Analyzers.byName(Analyzers.nameOf(wrapped)) == wrapped)
  }

  test("FrontMatter strips a leading YAML block and counts its lines") {
    val doc = "---\ntitle: x\n---\n# Body\ntext\n"
    assert(FrontMatter.strip(doc) == "# Body\ntext\n")
    assert(FrontMatter.strippedLineCount(doc) == 3)
    assert(FrontMatter.split(doc)._1.contains("title: x"))
  }

  test("FrontMatter passes through documents without front matter") {
    val doc = "# No front matter\n---\nnot at start\n"
    assert(FrontMatter.strip(doc) == doc)
    assert(FrontMatter.strippedLineCount(doc) == 0)
  }
}
