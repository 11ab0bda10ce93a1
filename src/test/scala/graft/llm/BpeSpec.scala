package graft.llm

import graft.SparkSpec

class BpeSpec extends SparkSpec {
  import spark.implicits._

  test("learnMerges replays the classic low/lower/lowest example") {
    // Sennrich's canonical corpus: low x3, lower, lowest
    val docs = Seq(
      (1L, "low low low"),
      (2L, "lower lowest")
    ).toDF("doc_id", "text")
    val m = Bpe.learnMerges(docs, "text", nMerges = 4)
      .as[(Int, String, String, String, Long)].collect().sortBy(_._1)
    // round 1: "l o" and "o w" tie at 5 -> pair-string tiebreak picks "l o"
    assert(m(0) === ((1, "l", "o", "lo", 5L)))
    assert(m(1) === ((2, "lo", "w", "low", 5L)))
    assert(m(2) === ((3, "low", "e", "lowe", 2L)))
    // round 4: all pairs tie at 1 -> "lowe r" < "lowe s" < "s t"
    assert(m(3) === ((4, "lowe", "r", "lower", 1L)))
  }

  test("a run merges greedily left-to-right: aaaa -> aa aa, not aa a a") {
    val docs = Seq((1L, "aaaa")).toDF("doc_id", "text")
    val m = Bpe.learnMerges(docs, "text", nMerges = 2)
      .as[(Int, String, String, String, Long)].collect().sortBy(_._1)
    // 3 overlapping (a,a) pairs counted, then the word is <aa><aa>
    assert(m(0) === ((1, "a", "a", "aa", 3L)))
    assert(m(1) === ((2, "aa", "aa", "aaaa", 1L)))
  }

  test("tokenCounts: per-doc symbol economics under the learned vocab") {
    val docs = Seq(
      (1L, "low low low"),
      (2L, "lower lowest")
    ).toDF("doc_id", "text")
    // after 4 merges (lo, low, lowe, lower): low=1 sym, lower=1 sym,
    // lowest=<lowe><s><t>=3 syms
    val out = Bpe.tokenCounts(docs, "doc_id", "text", nMerges = 4)
      .as[(Long, Long, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    assert(out(1L) === ((3L, 9L, 3L, 0L, 3.0)))
    assert(out(2L) === ((2L, 11L, 4L, 0L, 2.75)))
  }

  test("tokenCountsWith on a DIFFERENT corpus: OOV words fall back to char count") {
    val trainDocs = Seq((1L, "low low low"), (2L, "lower lowest"))
      .toDF("doc_id", "text")
    val (_, words) = Bpe.trainShared(trainDocs, "text", nMerges = 4)
    // "zzz" is out-of-vocabulary: counts 3 symbols (its chars) and is
    // tallied in n_oov instead of silently vanishing from the sums
    val score = Seq((10L, "low zzz")).toDF("doc_id", "text")
    val out = Bpe.tokenCountsWith(score, "doc_id", "text", words)
      .as[(Long, Long, Long, Long, Long, Double)].collect()
    assert(out.toSeq === Seq((10L, 2L, 6L, 4L, 1L, 1.5)))
  }

  test("compression ratio: bounded, monotone in merges, exact at full collapse") {
    // real corpus slice: the sf0.001 documents table
    val docs = graft.sources.Tables.load(spark, "/root/testdata/sf0.001",
      "documents").select($"doc_id", $"text")
    val (_, w0) = Bpe.trainShared(docs, "text", nMerges = 1)
    val (_, w8) = Bpe.trainShared(docs, "text", nMerges = 8)
    val (_, wAll) = Bpe.trainShared(docs, "text", nMerges = 4096)
    def econ(w: org.apache.spark.sql.DataFrame) =
      Bpe.tokenCountsWith(docs, "doc_id", "text", w)
        .select($"doc_id", $"n_words", $"n_chars", $"n_bpe", $"n_oov",
          $"compression")
        .as[(Long, Long, Long, Long, Long, Double)].collect()
        .map(r => r._1 -> r).toMap
    val (e0, e8, eAll) = (econ(w0), econ(w8), econ(wAll))
    assert(e0.nonEmpty && e0.keySet == e8.keySet && e0.keySet == eAll.keySet)
    e0.keys.foreach { id =>
      // self-corpus scoring: nothing is OOV at any merge count
      assert(e0(id)._5 == 0L && e8(id)._5 == 0L && eAll(id)._5 == 0L)
      // hard bounds at any merge count: one symbol per word at best,
      // one per char at worst → 1 ≤ compression ≤ avg word length
      Seq(e0(id), e8(id), eAll(id)).foreach { e =>
        assert(e._2 <= e._4 && e._4 <= e._3)
      }
      // more merges never tokenize worse (per doc, not just aggregate)
      assert(e8(id)._4 <= e0(id)._4 && eAll(id)._4 <= e8(id)._4)
      // 4096 merges on a 31-word vocab: total collapse — one symbol
      // per word, compression == avg word length, the upper bound
      assert(eAll(id)._4 == eAll(id)._2)
      assert(eAll(id)._6 ==
        math.round(eAll(id)._3.toDouble / eAll(id)._2 * 10000) / 10000.0)
    }
  }

  test("production-shaped train+tokenize: compression-ratio sanity bounds") {
    import org.apache.spark.sql.functions.{array_join, array_repeat, col, sum}
    // the BpeTrainBench / SCALE.md round-10 end-to-end flow at test
    // scale: seeded large-vocabulary Zipf corpus ∪ the real documents
    // table, a production-shaped merge budget, then tokenize the
    // documents under the trained vocab and bound the economics
    val rng = new scala.util.Random(7)
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < 5000) {
      val len = 4 + rng.nextInt(11)
      seen += Array.fill(len)(('a' + rng.nextInt(26)).toChar).mkString
    }
    val synth = seen.toSeq.zipWithIndex.map { case (w, i) =>
      (w, math.max(1L, 5000L / (i + 1)))
    }.toDF("word", "freq")
      .select(array_join(array_repeat(col("word"),
        col("freq").cast("int")), " ").as("text"))
    val docs = graft.sources.Tables.load(spark, "/root/testdata/sf0.001",
      "documents").select($"doc_id", $"text")
    val (_, vocab) = Bpe.trainShared(
      synth.unionByName(docs.select($"text")), "text", nMerges = 2048)
    val a = Bpe.tokenCountsWith(docs, "doc_id", "text", vocab)
      .agg(sum($"n_words").as("w"), sum($"n_chars").as("c"),
        sum($"n_bpe").as("b"), sum($"n_oov").as("o")).head()
    val (w, c, b, o) = (a.getLong(0), a.getLong(1), a.getLong(2), a.getLong(3))
    // trained on the corpus being tokenized → nothing falls out
    assert(o == 0L)
    // hard bounds: one symbol per word at best, one per char at worst
    assert(w <= b && b <= c)
    // sanity floor: a 2048-merge vocab trained on this corpus must
    // compress it well past character level (the SCALE.md 32k row's
    // test-scale twin — a regression here means the trained rules
    // stopped applying to the corpus they were learned from)
    val compression = c.toDouble / b
    assert(compression >= 2.0, s"compression $compression < 2.0")
  }

  test("stops early when every word is a single symbol") {
    val docs = Seq((1L, "ab ab cd")).toDF("doc_id", "text")
    val m = Bpe.learnMerges(docs, "text", nMerges = 10)
      .as[(Int, String, String, String, Long)].collect().sortBy(_._1)
    // only 2 merges exist: (a,b) n=2 then (c,d) n=1 — then exhaustion
    assert(m.toSeq === Seq((1, "a", "b", "ab", 2L), (2, "c", "d", "cd", 1L)))
  }

  test("hybrid parity: in-memory trainer reproduces the distributed loop exactly") {
    // sf0.001 documents: real corpus with ties, runs, and shared
    // prefixes — the parity gate for the production in-memory path
    val docs = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    Seq(Bpe.Chars, Bpe.Bytes).foreach { alphabet =>
      val mr = loopsAgree(docs, 12, alphabet)
      assert(mr.size == 12)
      // winner counts are non-increasing: a merge's new pairs are
      // bounded by the winning count, so a violation means the heap
      // served stale
      assert(mr.map(_._5) == mr.map(_._5).sorted.reverse)
    }
  }

  /** The rules and merged words of both trainer loops, which must
    * agree rule for rule and row for row.
    */
  private def loopsAgree(docs: org.apache.spark.sql.DataFrame, nMerges: Int,
                         alphabet: Bpe.Alphabet)
      : Seq[(Int, String, String, String, Long)] = {
    // maxDriverWords = 0 forces the distributed fallback
    val dist = Bpe.trainShared(docs, "text", nMerges, maxDriverWords = 0,
      alphabet = alphabet)
    val mem = Bpe.trainShared(docs, "text", nMerges, alphabet = alphabet)
    val dr = dist._1.as[(Int, String, String, String, Long)].collect().sortBy(_._1)
    val mr = mem._1.as[(Int, String, String, String, Long)].collect().sortBy(_._1)
    assert(mr.toSeq === dr.toSeq)
    val dw = dist._2.as[(String, String, Long)].collect().sortBy(_._1)
    val mw = mem._2.as[(String, String, Long)].collect().sortBy(_._1)
    assert(mw.toSeq === dw.toSeq)
    mr.toSeq
  }

  test("in-memory trainer handles merge-path symbol collisions (a+bc vs ab+c)") {
    // freq structure forces "a bc" and "ab c" to both form "abc":
    // intern() must reuse the same symbol id and adjacency bookkeeping
    // must stay exact — parity with the distributed string replace
    val docs = Seq(
      (1L, "bc bc bc bc abc abc ab ab ab xabcy xabcy"),
      (2L, "abc ab bc xabcy")).toDF("doc_id", "text")
    val dist = Bpe.learnMerges(docs, "text", nMerges = 8, maxDriverWords = 0)
      .as[(Int, String, String, String, Long)].collect().sortBy(_._1)
    val mem = Bpe.learnMerges(docs, "text", nMerges = 8)
      .as[(Int, String, String, String, Long)].collect().sortBy(_._1)
    assert(mem.toSeq === dist.toSeq)
  }

  test("a count score keeps a pair whose count held while its " +
       "endpoint's symbol count fell") {
    // ab×3 ac×2: (a,b) wins at 3, using up three of a's five
    // occurrences; (a,c) still counts 2 and wins next. A heap entry
    // that also checked a's symbol count would be stale after round 1,
    // and a count score re-pushes only pairs whose own count moved, so
    // (a,c) would never merge
    val docs = Seq((1L, "ab ab ab ac ac")).toDF("doc_id", "text")
    assert(loopsAgree(docs, 4, Bpe.Chars) ===
      Seq((1, "a", "b", "ab", 3L), (2, "a", "c", "ac", 2L)))
  }

  test("encodeTokenCountsWith segments UNSEEN words via learned merges; " +
    "known words reproduce the trained segmentation exactly") {
    val trainDocs = Seq((1L, "low low low"), (2L, "lower lowest"))
      .toDF("doc_id", "text")
    val (rules, words) = Bpe.trainShared(trainDocs, "text", nMerges = 4)
    // merges after 4 rounds: lo, low, lowe, lower.
    // "lowlow" (unseen): l o w l o w -> lo.. -> low low = 2 syms;
    // "slow" (unseen): s l o w -> s lo w -> s low = 2 syms;
    // "zq" (unseen chars): no pair trained, 2 syms, counts as OOV
    val score = Seq((10L, "lowlow slow zq")).toDF("doc_id", "text")
    val out = Bpe.encodeTokenCountsWith(score, "doc_id", "text", rules, words)
      .as[(Long, Long, Long, Long, Long, Double)].collect()
    // n_words=3, n_chars=12, n_bpe=2+2+2=6, n_oov=1 (zq), 12/6=2.0
    assert(out.toSeq === Seq((10L, 3L, 12L, 6L, 1L, 2.0)))
  }

  test("encode parity: on the training corpus the encoder reproduces " +
    "tokenCountsWith bit-for-bit with zero OOV") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text")
    val (rules, words) = Bpe.trainShared(docs, "text", nMerges = 8)
    val viaLookup = Bpe.tokenCountsWith(docs, "doc_id", "text", words)
      .collect().map(_.toSeq).toSet
    val viaEncode = Bpe.encodeTokenCountsWith(docs, "doc_id", "text",
      rules, words).collect().map(_.toSeq).toSet
    assert(viaEncode == viaLookup)
    assert(viaEncode.forall(r => r(4) == 0L), "training corpus has OOV")
  }

  test("encode is deterministic under repartition and never exceeds " +
    "the char-count upper bound") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text").limit(50)
    val (rules, words) = Bpe.trainShared(docs, "text", nMerges = 6)
    val glued = docs.selectExpr("doc_id",
      "array_join(transform(filter(split(text, ' '), x -> x <> ''), " +
        "t -> concat(t, t)), ' ') AS text")
    val a = Bpe.encodeTokenCountsWith(glued, "doc_id", "text", rules, words)
      .collect().map(_.toSeq).toSet
    val b = Bpe.encodeTokenCountsWith(glued.repartition(7), "doc_id",
      "text", rules, words).collect().map(_.toSeq).toSet
    assert(a == b)
    a.foreach { r =>
      val (nChars, nBpe) = (r(2).asInstanceOf[Long], r(3).asInstanceOf[Long])
      assert(nBpe <= nChars && nBpe >= 1, r)
    }
  }

  test("encodeIds is repartition-invariant (flat id streams bit-equal)") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text").limit(40)
    val (rules, words) = Bpe.trainShared(docs, "text", nMerges = 6)
    def run(d: org.apache.spark.sql.DataFrame) =
      Bpe.encodeIds(d, "doc_id", "text", rules, words)
        .select($"doc_id", $"ids", $"n_oov", $"n_bpe")
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Int](1).toList,
          r.getLong(2), r.getLong(3))).toSet
    assert(run(docs) == run(docs.repartition(7)))
  }

  test("encodeSegments emits the exact bracketed sub-word sequence") {
    val trainDocs = Seq((1L, "low low low"), (2L, "lower lowest"))
      .toDF("doc_id", "text")
    val (rules, words) = Bpe.trainShared(trainDocs, "text", nMerges = 4)
    // merges: lo, low, lowe, lower
    val score = Seq((10L, "slow lowlow glow zq low")).toDF("doc_id", "text")
    val out = Bpe.encodeSegments(score, "text", rules, words)
      .as[(String, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out("slow") === ((2L, 0L, "<s><low>")))
    assert(out("lowlow") === ((2L, 0L, "<low><low>")))
    // 'g' is outside the training alphabet -> oov flag set, yet the
    // word STILL segments with the learned merges (the flag reports,
    // it never blocks encoding)
    assert(out("glow") === ((2L, 1L, "<g><low>")))
    assert(out("zq") === ((2L, 1L, "<z><q>")))   // unseen chars -> oov
    assert(out("low") === ((1L, 0L, "<low>")))   // trained word intact
    assert(out.size == 5)                        // vocabulary-sized
  }

  test("pieceVocab: space at 0, alphabet in binary order, merges at |A|+rank, bijection") {
    val docs = Seq((1L, "low low low"), (2L, "lower lowest")).toDF("doc_id", "text")
    val (rules, words) = Bpe.trainShared(docs, "text", nMerges = 4)
    val v = Bpe.pieceVocab(rules, words)
      .as[(String, Int)].collect().toMap
    // alphabet: e l o r s t w -> ids 1..7; merges lo/low/lowe/lower -> 8..11
    assert(v(" ") == 0)
    assert(v("e") == 1 && v("l") == 2 && v("w") == 7)
    assert(v("lo") == 8 && v("low") == 9 && v("lowe") == 10 && v("lower") == 11)
    assert(v.size == 12 && v.values.toSeq.distinct.size == 12)
  }

  test("encodeIds + decodeIds: roundtrip identity on clean text, OOV marked and flagged") {
    val train = Seq((1L, "low low low"), (2L, "lower lowest")).toDF("doc_id", "text")
    val (rules, words) = Bpe.trainShared(train, "text", nMerges = 4)
    val eval = Seq(
      (10L, "low lowlow slow"),   // clean: all chars trained
      (11L, "glow low")           // 'g' unseen -> OOV word
    ).toDF("doc_id", "text")
    val enc = Bpe.encodeIds(eval, "doc_id", "text", rules, words)
      .localCheckpoint()
    val byId = enc.select("doc_id", "ids", "n_oov", "n_bpe")
      .as[(Long, Seq[Int], Long, Long)].collect().map(r => r._1 -> r).toMap
    // low=<low>(9), lowlow=<low><low>, slow=<s><low> (s=5), space=0
    assert(byId(10L)._2 == Seq(9, 0, 9, 9, 0, 5, 9))
    assert(byId(10L)._3 == 0L && byId(10L)._4 == 7L)
    // glow=<g><low> with g unseen -> -1 marker, n_oov counts the word
    assert(byId(11L)._2 == Seq(-1, 9, 0, 9))
    assert(byId(11L)._3 == 1L)
    val dec = Bpe.decodeIds(enc, "doc_id", "ids", rules, words)
      .as[(Long, String)].collect().toMap
    assert(dec(10L) == "low lowlow slow")      // exact roundtrip
    assert(dec(11L) == "�low low")        // OOV char -> U+FFFD
  }

  test("exportArtifacts/importMerges: merges and vocab roundtrip exactly " +
       "through the GPT-2-shape files") {
    val docs = Seq(
      (1L, "low low low lowest"),
      (2L, "lower lowest newer")
    ).toDF("doc_id", "text")
    val (rules, words) = Bpe.trainShared(docs, "text", nMerges = 6)
    val path = s"/tmp/graft_test_bpeart_${ProcessHandle.current().pid()}"
    Bpe.exportArtifacts(rules, words, path)
    val back = Bpe.importMerges(spark, path)
      .as[(Int, String, String, String)].collect().sortBy(_._1)
    val orig = rules.select("rank", "lhs", "rhs", "merged")
      .as[(Int, String, String, String)].collect().sortBy(_._1)
    assert(back.toSeq == orig.toSeq,
      s"merges roundtrip: got ${back.mkString(",")}")
    val vocabBack = spark.read.parquet(s"$path/vocab")
      .as[(String, Int)].collect().toSet
    val vocabOrig = Bpe.pieceVocab(rules, words)
      .as[(String, Int)].collect().toSet
    assert(vocabBack == vocabOrig, "vocab parquet roundtrip")
  }

  test("importMerges: tolerates blank lines with dense ranks, names a " +
       "malformed rule, and rejects multi-part merges directories") {
    val base = s"/tmp/graft_test_bpeimp_${ProcessHandle.current().pid()}"
    def write(dirTag: String, files: Map[String, String]): String = {
      val p = new java.io.File(s"$base/$dirTag/merges")
      p.mkdirs()
      files.foreach { case (name, content) =>
        java.nio.file.Files.write(new java.io.File(p, name).toPath,
          content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
      s"$base/$dirTag"
    }
    // hand-edited file: trailing newline + mid-file blank → ranks dense
    val ok = write("ok", Map("part-00000" -> "l o\n\nlo w\n\n"))
    val rules = Bpe.importMerges(spark, ok)
      .as[(Int, String, String, String)].collect().sortBy(_._1).toSeq
    assert(rules == Seq((1, "l", "o", "lo"), (2, "lo", "w", "low")))
    // a spaceless line is a malformed rule, named by position
    val bad = write("bad", Map("part-00000" -> "l o\nnospace\n"))
    val e1 = intercept[org.apache.spark.SparkException] {
      Bpe.importMerges(spark, bad).collect()
    }
    assert(e1.getMessage.contains("malformed") ||
      Option(e1.getCause).exists(_.getMessage.contains("malformed")))
    // the error names the PHYSICAL line — a blank line above the bad
    // rule must not shift the reported position (the hand-edited-file
    // case the blank tolerance exists for)
    val badBlank = write("badblank", Map("part-00000" -> "l o\n\nnospace\n"))
    val e1b = intercept[org.apache.spark.SparkException] {
      Bpe.importMerges(spark, badBlank).collect()
    }
    assert(e1b.getMessage.contains("at line 3") ||
      Option(e1b.getCause).exists(_.getMessage.contains("at line 3")),
      s"expected physical line 3 in: ${e1b.getMessage}")
    // two data files: rank-from-line-order is unsound → refuse
    val multi = write("multi",
      Map("part-00000" -> "l o\n", "part-00001" -> "lo w\n"))
    val e2 = intercept[IllegalArgumentException] {
      Bpe.importMerges(spark, multi)
    }
    assert(e2.getMessage.contains("exactly one data file"))
    // _SUCCESS/dot markers do not count as data files
    val markers = write("markers",
      Map("part-00000" -> "l o\n", "_SUCCESS" -> "", ".crc" -> "x"))
    assert(Bpe.importMerges(spark, markers).count() == 1L)
  }

  test("byte-level BPE: hex segmentation, structurally-zero OOV on " +
       "never-seen unicode, byte-exact decode roundtrip, fixed 256 vocab") {
    // train on pure-ASCII text; encode accents/CJK/emoji it never saw
    val train = Seq(
      (1L, "low low lower lowest"),
      (2L, "new newer newest low")).toDF("doc_id", "text")
    val (rules, words) = Bpe.trainShared(train, "text", nMerges = 4,
      alphabet = Bpe.Bytes)
    val got = rules.select("rank", "lhs", "rhs", "merged")
      .as[(Int, String, String, String)].collect().sortBy(_._1)
    // all symbols are hex pairs over the training bytes
    assert(got.length == 4)
    assert(got.forall { case (_, l, r, m) =>
      m == l + r && (l + r).matches("[0-9A-F]+") })
    // 'l','o','w' (6C 6F 77) dominate: first merge must be one of the
    // 4-occurrence pairs with the smallest pair string — (6C,6F) "lo"
    assert((got(0)._2, got(0)._3) == ("6C", "6F"))

    // byteVocab: 256 fixed base ids = byte values, merges at 255+rank
    val vocab = Bpe.byteVocab(rules)
      .as[(String, Int)].collect().toMap
    assert(vocab.size == 256 + 4)
    assert(vocab("20") == 32 && vocab("00") == 0 && vocab("FF") == 255)
    assert(vocab("6C6F") == 256)

    // encode text whose CHARACTERS training never saw → n_oov must be
    // the structural 0 (the char-level face would mark these words -1)
    val eval = Seq(
      (10L, "low löw"),
      (11L, "東京🚀 naïve low"),
      (12L, "☃️❄")).toDF("doc_id", "text")
    val enc = Bpe.encodeIds(eval, "doc_id", "text", rules, words, Bpe.Bytes)
      .localCheckpoint()
    val rows = enc.select("doc_id", "n_oov", "ids")
      .as[(Long, Long, Seq[Int])].collect().map(r => r._1 -> r).toMap
    assert(rows.values.forall(_._2 == 0L), "byte alphabet cannot OOV")
    // space byte id 32 interleaves words
    assert(rows(10L)._3.count(_ == 32) == 1)
    assert(rows(11L)._3.count(_ == 32) == 2)
    // "low" = one trained merge chain: 6C6F + 77 → ids (256-based)
    // exist; every id is in [0, 255 + 4]
    assert(rows.values.forall(_._3.forall(id => id >= 0 && id < 260)))

    // decode(encode(d)) is byte-exact on ANY unicode input
    val dec = Bpe.decodeIds(enc, "doc_id", "ids", rules, words, Bpe.Bytes)
      .as[(Long, String)].collect().toMap
    assert(dec(10L) == "low löw")
    assert(dec(11L) == "東京🚀 naïve low")
    assert(dec(12L) == "☃️❄")

    // token counts face agrees with the ids face on totals
    val cnt = Bpe.encodeTokenCountsWith(eval, "doc_id", "text", rules, words,
        Bpe.Bytes)
      .select("doc_id", "n_words", "n_bytes", "n_bpe", "n_oov")
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(cnt.values.forall(_._5 == 0L))
    // n_bytes is the UTF-8 byte count, not the char count
    assert(cnt(12L)._3 == "☃️❄".getBytes("UTF-8").length)
    cnt.foreach { case (d, (_, nWords, _, nBpe, _)) =>
      assert(rows(d)._3.size.toLong == nBpe + nWords - 1, s"doc $d") }

    // artifact roundtrip: GPT-2-shape merges + 260-row vocab parquet
    val path = s"/tmp/graft_test_bpebytes_${ProcessHandle.current().pid()}"
    Bpe.exportArtifacts(rules, words, path, Bpe.Bytes)
    val back = Bpe.importMerges(spark, path)
      .select("rank", "lhs", "rhs", "merged")
      .as[(Int, String, String, String)].collect().sortBy(_._1)
    assert(back.toSeq == got.toSeq)
    assert(spark.read.parquet(s"$path/vocab").count() == 260L)
  }

  test("GPT-2 bytes_to_unicode interop: the published alphabet's pinned " +
       "entries, bijectivity, and an identity disk roundtrip") {
    // the table from openai/gpt-2 encoder.py: printable bytes keep
    // their codepoint, the 68 others shift to 256+n in byte order
    val a = Bpe.Gpt2Alphabet
    assert(a.length == 256 && a.distinct.length == 256, "bijection")
    assert(a(' '.toInt) == "Ġ", "space renders as the famous Ġ")
    assert(a('\n'.toInt) == "Ċ", "newline renders as Ċ")
    assert(a('A'.toInt) == "A" && a('z'.toInt) == "z" && a('!'.toInt) == "!")
    assert(a(0) == "Ā", "byte 0 is the first shifted char (Ā)")
    assert(a(0xC3) == "Ã" && a(0xA9) == "©",
      "é's UTF-8 bytes render as Ã© — the published artifact's look")
    assert(a(0xAD) == "Ń", "soft hyphen (173) is shifted, not kept")

    val docs = Seq((1L, "héllo héllo hello low")).toDF("doc_id", "text")
    val rules = Bpe.learnMerges(docs, "text", nMerges = 3, alphabet = Bpe.Bytes)
    val path = s"/tmp/graft_test_bpegpt2_${ProcessHandle.current().pid()}"
    Bpe.exportMergesGpt2(rules, path)
    // the exported text IS GPT-2-alphabet rendered: é's lead byte C3
    // appears as the literal Ã, and lowercase letters as themselves
    val raw = spark.read.text(s"$path/merges")
      .as[String].collect().mkString("\n")
    assert(raw.contains("Ã"), s"expected rendered Ã in: $raw")
    assert(raw.contains("l o"), s"expected rendered 'l o' merge in: $raw")
    // the published artifact convention: '#version: 0.2' leads the
    // file (openai/gpt-2's loader drops line 1 UNCONDITIONALLY — a
    // headerless export would lose its rank-1 merge there)
    val first = spark.sparkContext.textFile(s"$path/merges", 1).first()
    assert(first == "#version: 0.2", s"expected version header, got: $first")
    val back = Bpe.importMergesGpt2(spark, path)
      .select("rank", "lhs", "rhs", "merged")
      .as[(Int, String, String, String)].collect().sortBy(_._1)
    val orig = rules.select("rank", "lhs", "rhs", "merged")
      .as[(Int, String, String, String)].collect().sortBy(_._1)
    assert(back.toSeq == orig.toSeq, "roundtrip is the identity")

    // a hand-written published-shape file: the header must NOT parse
    // as a rule (every header char IS in the bytes_to_unicode
    // alphabet, so without the skip it would silently convert and
    // shift every rank by one); ranks start at the first real rule
    val pub = s"/tmp/graft_test_bpegpt2pub_${ProcessHandle.current().pid()}"
    val d = new java.io.File(s"$pub/merges"); d.mkdirs()
    java.nio.file.Files.write(new java.io.File(d, "merges.txt").toPath,
      "#version: 0.2\nl o\nÃ ©\n".getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
    val pubBack = Bpe.importMergesGpt2(spark, pub)
      .select("rank", "lhs", "rhs")
      .as[(Int, String, String)].collect().sortBy(_._1).toSeq
    assert(pubBack == Seq((1, "6C", "6F"), (2, "C3", "A9")),
      s"header must be skipped with dense ranks, got: $pubBack")
    // the engine's own headerless artifact keeps rank 1 = line 1
    // (the skip is #version-prefix-gated, not unconditional)
    val own = s"/tmp/graft_test_bpegpt2own_${ProcessHandle.current().pid()}"
    val d2 = new java.io.File(s"$own/merges"); d2.mkdirs()
    java.nio.file.Files.write(new java.io.File(d2, "merges.txt").toPath,
      "l o\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    assert(Bpe.importMergesGpt2(spark, own)
      .select("rank", "lhs", "rhs").as[(Int, String, String)]
      .collect().toSeq == Seq((1, "6C", "6F")))
  }

  test("preTokenize separates letter/digit/punct runs and composes with " +
       "the trainer (punctuation becomes its own token type)") {
    import org.apache.spark.sql.functions.col
    val rows = Seq(
      (1L, "don't stop x2! <g> a--b"),
      (2L, ""),
      (3L, "  a  b  "),
      (4L, "hello"))
      .toDF("doc_id", "text")
    val out = rows.select(col("doc_id"),
        TextAnalysis.preTokenize(col("text")).as("t"))
      .as[(Long, String)].collect().toMap
    assert(out == Map(
      1L -> "don ' t stop x 2 ! < g > a -- b",
      2L -> "", 3L -> "a b", 4L -> "hello"))

    // composition: the trainer over pretokenized "ha!ha!ha!" sees word
    // types {ha, !} (sentinel-free), so the first merge is (h, a) at
    // freq 3 — raw whitespace words would have trained on "ha!ha!ha!"
    val docs = Seq((1L, "ha!ha!ha!")).toDF("doc_id", "text")
    val pre = docs.select(col("doc_id"),
      TextAnalysis.preTokenize(col("text")).as("text"))
    val m = Bpe.learnMerges(pre, "text", nMerges = 1)
      .as[(Int, String, String, String, Long)].collect()
    assert(m.head == ((1, "h", "a", "ha", 3L)), m.mkString(","))
  }
}
