package graft.operators

import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.BpeByteKit
import graft.SparkSuite

/** BpeByte + bpe_encode_bytes/bpe_decode_bytes/bpe_segment_bytes: the
  * byte-level grammar rule-by-rule (incl. merges CROSSING UTF-8
  * character boundaries — the property the code-point trainer cannot
  * express), decode as the exact inverse, the GPT-2 printable remap
  * table locked against its published construction, the trainer locked
  * against an independent byte-level mutating-table simulation, and the
  * merges.txt/vocab.json artifact round-trip (export -> import ->
  * identical spec and encoding). */
class BpeByteSpec extends AnyFunSuite with SparkSuite {

  private val IdBase = BpeByte.IdBase // 256

  private def enc(text: String, spec: String): Seq[Int] = {
    import spark.implicits._
    Seq(text).toDF("t").selectExpr(s"bpe_encode_bytes(t, '$spec')").head().getSeq[Int](0)
  }

  test("remap table is the published GPT-2 bytes_to_unicode construction") {
    // 188 printable bytes map to themselves ...
    val direct = (0x21 to 0x7e) ++ (0xa1 to 0xac) ++ (0xae to 0xff)
    assert(direct.size === 188)
    direct.foreach(b => assert(BpeByteKit.ByteToChar(b) === b.toChar, s"byte $b"))
    // ... the other 68 map, in byte order, to U+0100.. contiguously
    val remapped = (0 until 256).filterNot(direct.contains)
    assert(remapped.size === 68)
    remapped.zipWithIndex.foreach { case (b, i) =>
      assert(BpeByteKit.ByteToChar(b) === (0x100 + i).toChar, s"byte $b")
    }
    // the canonical landmark: space is 'Ġ' (U+0120)
    assert(BpeByteKit.ByteToChar(0x20) === 'Ġ')
    // bijection: CharToByte inverts exactly
    (0 until 256).foreach { b =>
      assert(BpeByteKit.CharToByte(BpeByteKit.ByteToChar(b)) === b)
    }
  }

  test("bpe_encode_bytes: UTF-8 bytes are the base symbols; ids are GPT-2 layout") {
    assert(enc("abc", "") === Seq(97, 98, 99))
    assert(enc("", "") === Seq.empty)
    // 2-byte char: C3 A9
    assert(enc("é", "") === Seq(0xc3, 0xa9))
    // 4-byte supplementary char: F0 A0 80 80 (U+20000)
    assert(enc(new String(Character.toChars(0x20000)), "") ===
      Seq(0xf0, 0xa0, 0x80, 0x80))
    // merge k = 256 + k - 1
    assert(enc("abab", "97:98") === Seq(256, 256))
    // rank order and chaining as the code-point kit (shared replay core)
    assert(enc("abc", "97:98;98:99") === Seq(256, 99))
    assert(enc("abc", "97:98;256:99") === Seq(257))
  }

  test("merges cross UTF-8 character boundaries — the byte-level property") {
    // "é" = (C3, A9); merge the CONTINUATION byte of one char with the
    // LEAD byte of the next: "éé" = C3 A9 C3 A9, rule (A9, C3) glues the
    // char halves -> C3 [A9C3] A9
    assert(enc("éé", "169:195") === Seq(0xc3, 256, 0xa9))
    // and a full-char merge then a cross-char chain
    assert(enc("éé", "195:169;256:256") === Seq(257))
  }

  test("bpe_decode_bytes is the exact inverse of bpe_encode_bytes") {
    import spark.implicits._
    val spec = "195:169;256:256;97:98"
    val texts = Seq("abcde", "éé", "café élève",
      "漢字テスト", new String(Character.toChars(0x1F600)), "")
    texts.foreach { t =>
      val got = Seq(t).toDF("t")
        .selectExpr(s"bpe_decode_bytes(bpe_encode_bytes(t, '$spec'), '$spec') as r")
        .head().getString(0)
      assert(got === t, s"roundtrip of '$t'")
    }
    // null text -> null ids -> null string
    assert(Seq(Option.empty[String]).toDF("t")
      .selectExpr(s"bpe_decode_bytes(bpe_encode_bytes(t, ''), '')").head().isNullAt(0))
    // out-of-space id fails loudly
    val e = intercept[Exception] {
      Seq(1).toDF("x").selectExpr("bpe_decode_bytes(array(9999), '97:98')").collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("outside the spec's space")))
  }

  test("bpe_segment_bytes spells tokens in remap space") {
    import spark.implicits._
    def seg(text: String, spec: String): Seq[String] =
      Seq(text).toDF("t").selectExpr(s"bpe_segment_bytes(t, '$spec')")
        .head().getSeq[String](0)
    // space spells as 'Ġ', printable ASCII as itself
    assert(seg("a b", "") === Seq("a", "Ġ", "b"))
    // a 2-byte char's bytes spell as their remap chars: C3 -> 'Ã' (direct),
    // A9 -> '©' (direct)
    assert(seg("é", "") === Seq("Ã", "©"))
    assert(seg("abab", "97:98") === Seq("ab", "ab"))
    // merged space+letter spells with the Ġ prefix — the GPT-2 artifact form
    assert(seg(" the", "32:116") === Seq("Ġt", "h", "e"))
  }

  test("spec contract is loud at analysis; hostile text never throws") {
    import spark.implicits._
    val df = Seq("x").toDF("t")
    val e1 = intercept[Exception] { df.selectExpr("bpe_encode_bytes(t, 'nope')").collect() }
    assert(e1.getMessage.contains("bpe_encode_bytes"))
    val e2 = intercept[Exception] { df.selectExpr("bpe_encode_bytes(t, t)").collect() }
    assert(e2.getMessage.contains("foldable"))
    // forward merge-id reference rejected (entry 1 may only use bytes)
    val e3 = intercept[Exception] { df.selectExpr("bpe_encode_bytes(t, '256:97')").collect() }
    assert(e3.getMessage.contains("forward"))
    // hostile text: unpaired surrogates, controls, long runs — never throws
    val spec = BpeByteKit.parse("97:98;98:99")
    Seq("\ud800ab", "ab\udc00", "\u0000\u0001", "a" * 50000).foreach { s =>
      assert(BpeByteKit.encode(UTF8String.fromString(s), spec) != null)
    }
  }

  test("interpreted eval equals codegen") {
    import spark.implicits._
    val spec = "195:169;97:98;256:99"
    val rows = Seq("abcde", "ééx", "", "zzz", "abc abc")
    val gen = rows.toDF("t").selectExpr(s"bpe_encode_bytes(t, '$spec') as e").collect()
    val parsed = BpeByteKit.parse(spec)
    rows.zip(gen).foreach { case (s, r) =>
      val interp = BpeByteKit.encode(UTF8String.fromString(s), parsed)
      val expected = (0 until interp.numElements()).map(interp.getInt)
      assert(r.getSeq[Int](0) === expected, s"text '$s'")
    }
  }

  /** Independent reference: byte-level mutating-table batched trainer
    * (the algorithm the DuckDB oracle replays). */
  private def simulate(
      rows: Seq[(String, Long)], nMerges: Int, maxRounds: Int,
      candCap: Int, acceptCap: Int): Seq[(Int, Int, Int, Int, Int, Long)] = {
    val words = rows.map { case (w, c) =>
      (scala.collection.mutable.ArrayBuffer(
        w.getBytes(java.nio.charset.StandardCharsets.UTF_8).map(_ & 0xff): _*), c)
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int, Int, Int, Long)]
    var merged = 0
    var round = 0
    while (merged < nMerges && round < maxRounds) {
      round += 1
      val cnt = scala.collection.mutable.Map.empty[(Int, Int), Long]
      words.foreach { case (syms, c) =>
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          cnt(k) = cnt.getOrElse(k, 0L) + c
          i += 1
        }
      }
      if (cnt.isEmpty) return out.toSeq
      val cand = cnt.toSeq.sortBy { case ((a, b), n) => (-n, a, b) }.take(candCap)
      val cap = math.min(acceptCap, nMerges - merged)
      val usedL = scala.collection.mutable.Set.empty[Int]
      val usedR = scala.collection.mutable.Set.empty[Int]
      val acc = scala.collection.mutable.Map.empty[(Int, Int), Int]
      cand.foreach { case ((a, b), n) =>
        if (acc.size < cap && !usedR.contains(a) && !usedL.contains(b)) {
          val midx = merged + acc.size + 1
          acc((a, b)) = IdBase + midx - 1
          out += ((midx, round, a, b, IdBase + midx - 1, n))
          usedL += a; usedR += b
        }
      }
      if (acc.isEmpty) return out.toSeq
      merged += acc.size
      words.foreach { case (syms, _) =>
        var i = 0
        var w = 0
        while (i < syms.length) {
          if (i < syms.length - 1 && acc.contains((syms(i), syms(i + 1)))) {
            syms(w) = acc((syms(i), syms(i + 1))); w += 1; i += 2
          } else { syms(w) = syms(i); w += 1; i += 1 }
        }
        syms.remove(w, syms.length - w)
      }
    }
    out.toSeq
  }

  test("trainer equals the independent byte-level simulation on a mixed-script corpus") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // the q264 mixed-script construction: multibyte CJK tails force
    // genuine byte-level behavior (continuation bytes as symbols)
    val docs = graft.queries.Tables.table(spark, "/root/testdata/sf0.001", "documents")
      .filter("doc_id < 500")
      .select(col("doc_id"), concat(col("text"),
        when(col("doc_id") % 3 === 0, lit(" 漢字テスト"))
          .when(col("doc_id") % 3 === 1, lit(" abc漢字def"))
          .otherwise(lit(""))).as("t"))
    val units = BpeInt.fourgramCounts(docs, "t")
    val unitRows = units.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val nM = 1200
    val got = BpeByte.fitBlocked(spark, units, "w", "wcnt", nM,
      maxRounds = 48, candCap = 16384, acceptCap = 1024)
      .orderBy("midx")
      .collect().map(r =>
        (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getLong(5)))
    val ref = simulate(unitRows, nM, 48, 16384, 1024)
    assert(got.length === nM, "corpus supports 1200 merges")
    assert(got.toSeq === ref,
      "trainer (spec re-encode) must equal the mutating-table reference exactly")
    // multibyte REALLY participates: some merge touches a non-ASCII byte
    assert(got.exists { case (_, _, a, b, _, _) =>
      (a >= 0x80 && a < 256) || (b >= 0x80 && b < 256)
    }, "a byte >= 0x80 must appear in some merge on the CJK-bearing corpus")
  }

  test("artifact round-trip: export -> import -> identical spec, encoding, and ids") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = graft.queries.Tables.table(spark, "/root/testdata/sf0.001", "documents")
      .filter("doc_id < 200")
      .select(concat(col("text"),
        when(col("doc_id") % 3 === 0, lit(" 漢字テスト"))
          .otherwise(lit(""))).as("t"))
    val units = BpeInt.fourgramCounts(docs, "t").localCheckpoint(true)
    val m = BpeByte.fitBlocked(spark, units, "w", "wcnt", 400,
      maxRounds = 48, candCap = 16384, acceptCap = 1024).localCheckpoint(true)
    val spec = BpeByte.specOf(m)

    val mergesTxt = BpeArtifact.exportMerges(m)
    val lines = mergesTxt.split("\n")
    assert(lines.head === "#version: 0.2")
    assert(lines.length === 401, "header + one line per merge")
    // every line is two space-separated remap-space spellings
    assert(lines.tail.forall(l => l.count(_ == ' ') == 1 && !l.startsWith(" ")))

    // IMPORT reproduces the exact spec string
    val imported = BpeArtifact.importMerges(mergesTxt)
    assert(imported === spec, "export -> import must reproduce the spec exactly")

    // and the imported spec encodes identically (same ids) on real text
    val sample = docs.limit(50).collect().map(_.getString(0))
    val pSpec = BpeByteKit.parse(spec)
    val pImp = BpeByteKit.parse(imported)
    sample.foreach { t =>
      val a = BpeByteKit.encode(UTF8String.fromString(t), pSpec)
      val b = BpeByteKit.encode(UTF8String.fromString(t), pImp)
      assert((0 until a.numElements()).map(a.getInt) ===
        (0 until b.numElements()).map(b.getInt))
    }

    // vocab.json: valid JSON, 256 + nMerges unique entries, ids match the
    // encode space, and each merge's spelling = concat of its sides'
    val vocabJson = BpeArtifact.exportVocab(m)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(vocabJson)
    assert(node.size() === 256 + 400)
    // byte tokens carry their byte value as id
    assert(node.get("a").asInt() === 97)
    assert(node.get("Ġ").asInt() === 32) // space -> 'Ġ' at id 32
    // every encoded id of a sample text has a vocab entry whose spelling
    // segment_bytes agrees with
    val segs = Seq(sample.head).toDF("t")
      .selectExpr(s"bpe_segment_bytes(t, '$spec') as s",
        s"bpe_encode_bytes(t, '$spec') as e").head()
    segs.getSeq[String](0).zip(segs.getSeq[Int](1)).foreach { case (sp, id) =>
      assert(node.get(sp) != null, s"vocab must carry spelling '$sp'")
      assert(node.get(sp).asInt() === id, s"vocab id of '$sp'")
    }
  }

  test("import contracts are loud: unknown spelling, malformed line, duplicates") {
    // unknown spelling (never defined)
    val e1 = intercept[IllegalArgumentException] {
      BpeArtifact.importMerges("#version: 0.2\nqq zz\n")
    }
    assert(e1.getMessage.contains("unknown"))
    // malformed: no space
    val e2 = intercept[IllegalArgumentException] {
      BpeArtifact.importMerges("#version: 0.2\nab\n")
    }
    assert(e2.getMessage.contains("not"))
    // duplicate surface spelling: (a,bc) then (ab,c) both spell "abc"
    val e3 = intercept[IllegalArgumentException] {
      BpeArtifact.importMerges("#version: 0.2\nb c\na bc\na b\nab c\n")
    }
    assert(e3.getMessage.contains("re-creates"))
    // empty artifact
    val e4 = intercept[IllegalArgumentException] {
      BpeArtifact.importMerges("#version: 0.2\n")
    }
    assert(e4.getMessage.contains("no merge lines"))
    // CRLF tolerated
    assert(BpeArtifact.importMerges("#version: 0.2\r\na b\r\n") === "97:98")
  }

  test("exportVocabWithSpecials appends specials at the next free ids, loudly on collision") {
    import spark.implicits._
    val units = Seq(("ab", 3L), ("abc", 2L)).toDF("w", "wcnt")
    val m = BpeByte.fitBlocked(spark, units, "w", "wcnt", 8, 8, 32, 8)
    val nM = m.count().toInt
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val v = mapper.readTree(
      BpeArtifact.exportVocabWithSpecials(m, Seq("<|endoftext|>", "<|pad|>")))
    assert(v.size() === 256 + nM + 2)
    // specials land AFTER the merges, in order — the GPT-2 layout, and
    // exactly the eosId convention Packer callers use (IdBase + nMerges)
    assert(v.get("<|endoftext|>").asInt() === 256 + nM)
    assert(v.get("<|pad|>").asInt() === 256 + nM + 1)
    // model spellings keep their plain-vocab ids
    assert(v.get("a").asInt() === 97)
    // a special colliding with a model spelling fails loudly ('ab' is a
    // trained merge's surface spelling here)
    val e = intercept[IllegalArgumentException] {
      BpeArtifact.exportVocabWithSpecials(m, Seq("ab"))
    }
    assert(e.getMessage.contains("collides"))
    val e2 = intercept[IllegalArgumentException] {
      BpeArtifact.exportVocabWithSpecials(m, Seq("<|x|>", "<|x|>"))
    }
    assert(e2.getMessage.contains("duplicate"))
  }

  test("import keeps merge lines whose left spelling starts with '#'") {
    // '#' (0x23) remaps to itself, so a trained merge like ('#','a')
    // yields a legitimate "#a ..." data line — only a FIRST-line
    // '#version' header is a comment (the published format). The r9
    // importer dropped every '#'-prefixed line, silently breaking the
    // export->import round trip for such artifacts.
    assert(BpeArtifact.importMerges("#version: 0.2\n# a\n#a b\n") === "35:97;256:98")
    // and a '#'-led merge line survives even as the FIRST line when no
    // header is present (header detection keys on the '#version' prefix)
    assert(BpeArtifact.importMerges("# a\n") === "35:97")
    // a mid-file '#version'-looking line is NOT a header... it parses as
    // a merge line and fails loudly ('#version:' is no known spelling),
    // never silently skipped
    val e = intercept[IllegalArgumentException] {
      BpeArtifact.importMerges("#version: 0.2\na b\n#version: 0.2\n")
    }
    assert(e.getMessage.contains("unknown spelling"))
  }

  test("pretokenCounts: units are pre-tokens; trained merges respect encode boundaries") {
    import spark.implicits._
    val docs = Seq("the cat sat", "the cat ran fast", "a cat the end").toDF("t")
    val units = BpeByte.pretokenCounts(docs, "t").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // pre-token units: bare first words + space-prefixed continuations
    assert(units("the") === 2L && units(" cat") === 3L && units("a") === 1L)
    assert(units(" the") === 1L) // "a cat the end": mid-doc 'the' carries its space
    // no unit ever has an INTERIOR space (the GPT-2 pattern attaches at
    // most ONE LEADING space) — so no trained merge can cross a word
    // boundary, which is exactly the agreement bpe_encode_gpt2 needs
    assert(units.keys.forall(w => !w.drop(1).contains(' ')))
    val m = BpeByte.fitBlocked(spark, BpeByte.pretokenCounts(docs, "t"), "w", "wcnt",
      64, maxRounds = 16, candCap = 128, acceptCap = 32).collect()
    assert(m.nonEmpty)
    val spec = m.sortBy(_.getAs[Int]("midx"))
      .map(r => s"${r.getAs[Int]("a")}:${r.getAs[Int]("b")}").mkString(";")
    val parsed = BpeByteKit.parse(spec)
    (IdBase until IdBase + m.length).foreach { id =>
      val sp = new String(parsed.spellBytes(id), "UTF-8")
      assert(!sp.drop(1).contains(' '),
        s"merge $id spells '$sp' — an interior space crosses a pre-token " +
          "boundary the GPT-2 encoder never lets it act on")
    }
    // and the model applies cleanly through the production path: encode
    // within pieces == whole-text encodeGpt2 (ids concatenate in order)
    val chk = docs.selectExpr(
      s"bpe_encode_gpt2(t, '$spec') as whole",
      s"flatten(transform(pretokenize_gpt2(t), p -> bpe_encode_bytes(p, '$spec'))) as pieced")
      .collect()
    chk.foreach(r => assert(r.getSeq[Int](0) === r.getSeq[Int](1)))
  }

  // ------------------------------------------------------- GPT-2 pre-tokenizer

  test("pretokenize_gpt2: the published pattern's goldens, partition law, unicode") {
    import spark.implicits._
    def pre(t: String): Seq[String] =
      Seq(t).toDF("t").selectExpr("pretokenize_gpt2(t)").head().getSeq[String](0)
    // goldens cross-checked against the reference pattern (python `regex`
    // with the verbatim published expression)
    assert(pre("Hello world!") === Seq("Hello", " world", "!"))
    assert(pre("don't stop") === Seq("don", "'t", " stop"))
    assert(pre("abc123 x") === Seq("abc", "123", " x"))
    assert(pre("a   b") === Seq("a", "  ", " b"), "last space joins the next word")
    assert(pre("a  ") === Seq("a", "  "), "trailing whitespace is one piece")
    assert(pre("\u6f22\u5b57 ok") === Seq("\u6f22\u5b57", " ok"), "CJK are letters")
    assert(pre("a\n\nb") === Seq("a", "\n", "\n", "b"))
    assert(pre(" leading") === Seq(" leading"))
    assert(pre("x's") === Seq("x", "'s"))
    assert(pre("3.14 + 2") === Seq("3", ".", "14", " +", " 2"))
    assert(pre("") === Seq.empty)
    // partition law on real fixture text + hostile strings
    val rows = graft.queries.Tables.table(spark, "/root/testdata/sf0.001", "documents")
      .limit(100).selectExpr("text", "pretokenize_gpt2(text) as p").collect()
    rows.foreach(r => assert(r.getSeq[String](1).mkString === r.getString(0)))
    Seq("\t\t", "  '  ", "a'sb", new String(Character.toChars(0x1F600)) + " x")
      .foreach { t => assert(pre(t).mkString === t, s"partition of '$t'") }
    // null -> null
    assert(Seq(Option.empty[String]).toDF("t")
      .selectExpr("pretokenize_gpt2(t)").head().isNullAt(0))
  }

  test("bpe_encode_gpt2: merges never cross pre-token boundaries; decode still inverts") {
    import spark.implicits._
    // spec merges 'e'+' ' (101, 32): plain byte encode fires it across
    // the "the| cat" boundary; the pre-tokenized path CANNOT (the space
    // belongs to the next piece)
    val spec = "101:32"
    val r = Seq("the cat").toDF("t").selectExpr(
      s"bpe_encode_bytes(t, '$spec') as plain",
      s"bpe_encode_gpt2(t, '$spec') as gpt",
      s"bpe_decode_bytes(bpe_encode_gpt2(t, '$spec'), '$spec') as back").head()
    assert(r.getSeq[Int](0).contains(256), "plain encode merges across the boundary")
    assert(!r.getSeq[Int](1).contains(256), "pre-tokenized encode must not")
    assert(r.getString(2) === "the cat", "decode remains the exact inverse")
    // within-piece merges still fire identically: 't'+'h'
    val r2 = Seq("the cat").toDF("t").selectExpr(
      "bpe_encode_gpt2(t, '116:104') as g").head().getSeq[Int](0)
    assert(r2.head === 256, "within-piece merge fires")
    // interpreted == codegen
    val texts = Seq("the cat", "don't", "a  b", "")
    val gen = texts.toDF("t").selectExpr("bpe_encode_gpt2(t, '101:32') as e")
      .collect().map(_.getSeq[Int](0))
    val parsed = BpeByteKit.parse("101:32")
    texts.zip(gen).foreach { case (t, got) =>
      val i0 = BpeByteKit.encodeGpt2(UTF8String.fromString(t), parsed)
      assert(got === (0 until i0.numElements()).map(i0.getInt), s"text '$t'")
    }
  }
}
