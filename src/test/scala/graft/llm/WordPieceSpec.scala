package graft.llm

import graft.SparkSpec

class WordPieceSpec extends SparkSpec {
  import spark.implicits._

  test("training maximizes the likelihood score, not the raw count: a " +
       "rare-but-cohesive pair beats a frequent diffuse one") {
    // words xa×2 xb×2 xc×2 aa×1 → symbol counts x:6, a:1, ##a:3,
    // ##b:2, ##c:2. Scores: (x,##a)=2/18, (x,##b)=(x,##c)=2/12,
    // (a,##a)=1/3 → the count-1 pair WINS (a BPE count argmax would
    // have picked a count-2 pair)
    val docs = Seq((1L, "xa xb xc aa"), (2L, "xa xb xc"))
      .toDF("doc_id", "text")
    val r = WordPiece.learnMerges(docs, "text", nMerges = 1)
      .select("rank", "lhs", "rhs", "merged", "n")
      .as[(Int, String, String, String, Long)].head()
    assert(r == ((1, "a", "##a", "aa", 1L)), s"got $r")
  }

  test("position-aware merges with ## inheritance, score ties broken on " +
       "the pair string") {
    // hug×2 pug×1: all three pairs score 1/3 — tie → pair-string asc
    // picks (##u,##g) (ASCII '#' < letters); then (h,##ug), (p,##ug)
    val docs = Seq((1L, "hug hug pug")).toDF("doc_id", "text")
    val (rules, words) = WordPiece.trainShared(docs, "text", nMerges = 3)
    val got = rules.select("rank", "lhs", "rhs", "merged", "n")
      .as[(Int, String, String, String, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1, "##u", "##g", "##ug", 3L),
      (2, "h", "##ug", "hug", 2L),
      (3, "p", "##ug", "pug", 1L)), s"got $got")
    val merged = words.select("word", "s").as[(String, String)]
      .collect().toMap
    assert(merged("hug") == "<hug>" && merged("pug") == "<pug>")
  }

  test("longest-match-first serving: cohesive prefixes win, a dead-end " +
       "anywhere makes the WHOLE word [UNK] (BERT semantics)") {
    val train = Seq((1L, "hug hug pug")).toDF("doc_id", "text")
    val (rules, words) = WordPiece.trainShared(train, "text", nMerges = 3)
    val eval = Seq((10L, "hug hugug hu hugging pug zz hué"))
      .toDF("doc_id", "text")
    val seg = WordPiece.encodeSegments(eval, "text", rules, words)
      .as[(String, Long, Int, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(seg("hug") == ((1L, 0, "hug")))
    assert(seg("hugug") == ((2L, 0, "hug ##ug")))
    assert(seg("hu") == ((2L, 0, "h ##u")))
    // 'hugging': hug → ##g → 'ing' has no ##i → whole word [UNK]
    assert(seg("hugging") == ((1L, 1, "[UNK]")))
    assert(seg("pug") == ((1L, 0, "pug")))
    // no initial 'z' piece → [UNK]; unseen unicode char → [UNK]
    assert(seg("zz") == ((1L, 1, "[UNK]")))
    assert(seg("hué") == ((1L, 1, "[UNK]")))

    val cnt = WordPiece.tokenCounts(eval, "doc_id", "text", rules, words)
      .as[(Long, Long, Long, Long)].head()
    // 7 words; pieces: 1+2+2+1+1+1+1 = 9; 3 UNK words
    assert(cnt == ((10L, 7L, 9L, 3L)), s"got $cnt")
  }

  test("max_input_chars_per_word: an over-long word of SEEN characters " +
       "is pre-killed to ONE [UNK] under the bound (HuggingFace " +
       "semantics), segments greedily without it") {
    val train = Seq((1L, "hug hug pug")).toDF("doc_id", "text")
    val (rules, words) = WordPiece.trainShared(train, "text", nMerges = 3)
    // 'hug' + 'ug'×16 = 35 chars, every character trained: greedy
    // segmentation SUCCEEDS (hug + ##ug×16 = 17 pieces) — only the
    // bound makes it [UNK], which is the whole point of the contract
    val long = "hug" + "ug" * 16
    val eval = Seq((10L, s"hug $long")).toDF("doc_id", "text")
    val free = WordPiece.encodeSegments(eval, "text", rules, words)
      .as[(String, Long, Int, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(free(long) == ((17L, 0)), s"default bound (100) segments: $free")
    val bounded = WordPiece.encodeSegments(eval, "text", rules, words,
        maxInputCharsPerWord = 32)
      .as[(String, Long, Int, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(bounded(long) == ((1L, 1, "[UNK]")), s"got $bounded")
    assert(bounded("hug") == ((1L, 0, "hug")), "short words unaffected")
    // the bound counts CODEPOINTS (astral chars are 2 JVM chars —
    // a 3-codepoint emoji word is far under any sane bound)
    val emoji = Seq((11L, "🚀🚀🚀")).toDF("doc_id", "text")
    val e = WordPiece.encodeSegments(emoji, "text", rules, words,
        maxInputCharsPerWord = 5)
      .as[(String, Long, Int, String)].collect().head
    assert(e._3 == 1, "unseen chars → [UNK] via dead-end, not the bound")
  }

  test("encodeSegments names the contract on an empty trained vocabulary") {
    // an all-guard-filtered corpus trains nothing
    val docs = Seq((1L, "<g> <h>")).toDF("doc_id", "text")
    val (rules, words) = WordPiece.trainShared(docs, "text", nMerges = 1)
    val e = intercept[IllegalArgumentException] {
      WordPiece.encodeSegments(
        Seq((2L, "a")).toDF("doc_id", "text"), "text", rules, words)
    }
    assert(e.getMessage.contains("non-empty trained vocabulary"),
      s"got: ${e.getMessage}")
  }

  test("pieceVocab: specials pinned at 0..4, alphabet in UTF-8 binary " +
       "order after them, merges at rank offset, bijection") {
    val train = Seq((1L, "hug hug pug")).toDF("doc_id", "text")
    val (rules, words) = WordPiece.trainShared(train, "text", nMerges = 3)
    val v = WordPiece.pieceVocab(rules, words)
      .as[(String, Int)].collect().toMap
    // the reserved ids are the contract every BERT consumer assumes
    assert(v("[PAD]") == 0 && v("[UNK]") == 1 && v("[CLS]") == 2 &&
      v("[SEP]") == 3 && v("[MASK]") == 4)
    // alphabet: {h, p, ##g, ##u} — '#' (0x23) sorts before letters in
    // UTF-8 binary order → ##g=5, ##u=6, h=7, p=8
    assert(v("##g") == 5 && v("##u") == 6 && v("h") == 7 && v("p") == 8,
      s"alphabet order: $v")
    // merges follow at 5 + |alphabet| + rank - 1... rank 1 = ##ug → 9
    assert(v("##ug") == 9 && v("hug") == 10 && v("pug") == 11)
    // bijection both ways
    val ids = v.values.toSeq
    assert(ids.distinct.length == ids.length, "ids are unique")
  }

  test("encodeIds/decodeIds: flat BERT-style id streams (no whitespace " +
       "tokens), [UNK] id for dead words, honest decode roundtrip") {
    val train = Seq((1L, "hug hug pug")).toDF("doc_id", "text")
    val (rules, words) = WordPiece.trainShared(train, "text", nMerges = 3)
    val eval = Seq((10L, "hug hu pug"), (11L, "hug zz")).toDF("doc_id", "text")
    val enc = WordPiece.encodeIds(eval, "doc_id", "text", rules, words)
      .select("doc_id", "ids", "n_unk", "n_wp")
      .as[(Long, Seq[Int], Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // hug=10, hu=[h ##u]=[7,6], pug=11 — concatenated flat, NO id-0
    // separators (the deliberate contrast with the BPE family)
    assert(enc(10L) == ((Seq(10, 7, 6, 11), 0L, 4L)), s"got ${enc(10L)}")
    // zz is a dead word → the [UNK] id 1, tallied in n_unk
    assert(enc(11L) == ((Seq(10, 1), 1L, 2L)), s"got ${enc(11L)}")
    val encDf = WordPiece.encodeIds(eval, "doc_id", "text", rules, words)
    val dec = WordPiece.decodeIds(encDf, "doc_id", "ids", rules, words)
      .as[(Long, String)].collect().toMap
    assert(dec(10L) == "hug hu pug", "clean stream roundtrips exactly")
    assert(dec(11L) == "hug [UNK]", "dead word decodes to literal [UNK]")
  }

  test("vocab.txt export→import is the identity; blank lines and " +
       "multi-part directories are loud errors (positional ids)") {
    val train = Seq((1L, "hug hug pug")).toDF("doc_id", "text")
    val (rules, words) = WordPiece.trainShared(train, "text", nMerges = 3)
    val path = s"/tmp/graft_test_wpvocab_${ProcessHandle.current().pid()}"
    WordPiece.exportVocabTxt(rules, words, path)
    // line order IS the id: line 1 = [PAD] (id 0)
    val first = spark.sparkContext.textFile(s"$path/vocab.txt", 1).first()
    assert(first == "[PAD]", s"line 1 must be [PAD], got: $first")
    val back = WordPiece.importVocabTxt(spark, path)
      .as[(String, Int)].collect().toSet
    val orig = WordPiece.pieceVocab(rules, words)
      .as[(String, Int)].collect().toSet
    assert(back == orig, "export→import identity")
    // a blank line must fail loudly, not shift ids
    val bad = s"/tmp/graft_test_wpvocabbad_${ProcessHandle.current().pid()}"
    val d = new java.io.File(s"$bad/vocab.txt"); d.mkdirs()
    java.nio.file.Files.write(new java.io.File(d, "part-0").toPath,
      "[PAD]\n\nh\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val e = intercept[org.apache.spark.SparkException] {
      WordPiece.importVocabTxt(spark, bad).collect()
    }
    assert(e.getMessage.contains("blank line") ||
      Option(e.getCause).exists(_.getMessage.contains("blank line")))
    // two data files: positional ids are unsound → refuse
    val multi = s"/tmp/graft_test_wpvocabmulti_${ProcessHandle.current().pid()}"
    val d2 = new java.io.File(s"$multi/vocab.txt"); d2.mkdirs()
    java.nio.file.Files.write(new java.io.File(d2, "part-0").toPath,
      "[PAD]\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.write(new java.io.File(d2, "part-1").toPath,
      "[UNK]\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val e2 = intercept[IllegalArgumentException] {
      WordPiece.importVocabTxt(spark, multi)
    }
    assert(e2.getMessage.contains("exactly one data file"))
  }

  test("in-memory and distributed trainers are rule-for-rule identical " +
       "on a real corpus slice (the BPE hybrid parity discipline)") {
    val docs = graft.sources.Tables
      .load(spark, "/root/testdata/sf0.001", "documents")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"))
    val (fast, fastWords) = WordPiece.trainShared(docs, "text", nMerges = 12)
    val (slow, slowWords) = WordPiece.trainShared(docs, "text", nMerges = 12,
      maxDriverWords = 0) // force the distributed loop
    val f = fast.select("rank", "lhs", "rhs", "merged", "n")
      .as[(Int, String, String, String, Long)].collect().sortBy(_._1).toSeq
    val s = slow.select("rank", "lhs", "rhs", "merged", "n")
      .as[(Int, String, String, String, Long)].collect().sortBy(_._1).toSeq
    assert(f == s, s"rule divergence:\n fast=$f\n slow=$s")
    // the merged word tables agree symbol for symbol
    val fw = fastWords.select("word", "s").as[(String, String)]
      .collect().toMap
    val sw = slowWords.select("word", "s").as[(String, String)]
      .collect().toMap
    assert(fw == sw, "merged word tables diverge")
  }

  test("a merge that uses up an endpoint symbol re-scores every pair " +
       "touching it, in both trainer loops") {
    // ab×3 ac×2 → a:5 ##b:3 ##c:2, and (a,##b) = 3/15 ties (a,##c) =
    // 2/10; "a ##b" sorts first and wins. That uses up three of a's
    // five occurrences: (a,##c) still counts 2 but its score rises to
    // 2/(2·2), so it wins next. The in-memory loop must re-push it, as
    // its count never changed
    val docs = Seq((1L, "ab ab ab ac ac")).toDF("doc_id", "text")
    def rules(maxDriverWords: Int) =
      WordPiece.trainShared(docs, "text", nMerges = 4, maxDriverWords)._1
        .select("rank", "lhs", "rhs", "merged", "n")
        .as[(Int, String, String, String, Long)].collect().sortBy(_._1).toSeq
    val want = Seq((1, "a", "##b", "ab", 3L), (2, "a", "##c", "ac", 2L))
    assert(rules(maxDriverWords = 0) == want)
    assert(rules(Bpe.DefaultMaxDriverWords) == want)
  }

  test("pieceVocab: duplicate merge paths renumber DENSELY, so the " +
       "positional vocab.txt roundtrip survives min-id dedup") {
    // hand-built rules with two ranks producing the same merged piece
    // (the collision the trainer can emit when two merge paths meet):
    // without the dense renumber, rank 2's id slot becomes a gap that
    // exportVocabTxt compacts silently — shifting every id after it
    // on re-import
    val rules = Seq((1, "ab"), (2, "ab"), (3, "abb"))
      .toDF("rank", "merged")
    val words = Seq("abb").toDF("word")
    val v = WordPiece.pieceVocab(rules, words)
      .as[(String, Int)].collect().toMap
    // specials 0..4; alphabet {##b, a} in UTF-8 order → ##b=5, a=6;
    // merges: "ab" min(7,8)=7, "abb" at 9 → DENSE renumber pulls it to 8
    assert(v("ab") == 7 && v("abb") == 8, s"got $v")
    val ids = v.values.toSeq.sorted
    assert(ids == (0 until v.size), s"ids must be dense 0..n-1: $ids")
    val path = s"/tmp/graft_test_wpvocabdup_${ProcessHandle.current().pid()}"
    WordPiece.exportVocabTxt(rules, words, path)
    val back = WordPiece.importVocabTxt(spark, path)
      .as[(String, Int)].collect().toSet
    assert(back == v.toSet, "export→import identity under dedup")
  }
}
