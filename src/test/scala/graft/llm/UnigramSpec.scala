package graft.llm

import graft.SparkSpec

class UnigramSpec extends SparkSpec {
  import spark.implicits._

  test("seed vocabulary: overlapping substring counts, freq·length " +
       "scores, all single chars kept, top-K multi by (score, piece)") {
    // corpus ab×2 b×1 → candidates a(freq 2), b(freq 3), ab(freq 2)
    // → scores a=2, b=3, ab=4; total 9
    val docs = Seq((1L, "ab ab b")).toDF("doc_id", "text")
    val seed = Unigram.seedModel(docs, "text", seedMulti = 8)
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(seed("a") == ((2L, 2L, 222222222L)), s"got ${seed("a")}")
    assert(seed("b") == ((3L, 3L, 333333333L)))
    assert(seed("ab") == ((2L, 4L, 444444444L)))
    // seedMulti = 0 keeps chars only (the coverage floor)
    val charsOnly = Unigram.seedModel(docs, "text", seedMulti = 0)
      .select("piece").as[String].collect().toSet
    assert(charsOnly == Set("a", "b"))
  }

  test("EM sharpens a cohesive piece: expected counts from " +
       "forward-backward, exact-integer normalization, probs sum ~1") {
    val docs = Seq((1L, "ab ab b")).toDF("doc_id", "text")
    val m1 = Unigram.train(docs, "text", seedMulti = 8, keepMulti = 8,
        emIters = 1)
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val m2 = Unigram.train(docs, "text", seedMulti = 8, keepMulti = 8,
        emIters = 2)
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // iteration 1 closed form (q0: a=2/9, b=3/9, ab=4/9):
    //   word 'ab' (n=2): Z = p(a)p(b) + p(ab); P(ab-as-one-piece) =
    //   p(ab)/Z = 6/7 → units: ab ≈ 2·6/7·1e9, a ≈ 2/7·1e9,
    //   b ≈ 2/7·1e9 + 1e9 (the lone 'b' word is certain)
    assert(math.abs(m1("ab")._1 - 1714285714L) <= 1,
      s"E[ab] ≈ 12/7e9, got ${m1("ab")._1}")
    assert(math.abs(m1("a")._1 - 285714286L) <= 1)
    assert(math.abs(m1("b")._1 - 1285714286L) <= 1)
    // M-step: q = u·1e9 ÷ Σu — exact integers, Σq within the floor gap
    val qsum1 = m1.values.map(_._2).sum
    assert(qsum1 > 999999990L && qsum1 <= 1000000000L, s"Σq=$qsum1")
    // EM sharpens: 'ab' gains probability round over round
    assert(m2("ab")._2 > m1("ab")._2,
      s"iter1 q(ab)=${m1("ab")._2}, iter2 q(ab)=${m2("ab")._2}")
  }

  test("pruning keeps every single char and the strongest multi-char " +
       "pieces; renormalization stays exact-integer") {
    // two cohesive bigrams + a weaker one; keepMulti = 2 must drop
    // exactly the weakest multi-char piece while chars all survive
    val docs = Seq((1L, "xy xy xy uv uv pq")).toDF("doc_id", "text")
    val m = Unigram.train(docs, "text", seedMulti = 8, keepMulti = 2,
        emIters = 2)
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> r._3).toMap
    val multi = m.keySet.filter(_.length >= 2)
    assert(multi == Set("xy", "uv"), s"kept multi: $multi")
    assert(Set("x", "y", "u", "v", "p", "q").subsetOf(m.keySet),
      s"chars survive pruning: ${m.keySet}")
  }

  test("Viterbi serving: most-probable segmentation (not greedy), " +
       "integer-cost tie-breaks, [UNK] on unseen chars and past the " +
       "char bound") {
    val docs = Seq((1L, "ab ab ab ab a b")).toDF("doc_id", "text")
    val model = Unigram.train(docs, "text", seedMulti = 8, keepMulti = 8,
      emIters = 2)
    val eval = Seq((10L, s"ab aab zb b ${"ab" * 20}")).toDF("doc_id", "text")
    val seg = Unigram.viterbiSegments(eval, "text", model)
      .as[(String, Long, Int, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // 'ab' is the dominant piece → one-piece segmentation wins
    assert(seg("ab") == ((1L, 0, "ab")), s"got ${seg("ab")}")
    // 'aab' must reuse the strong 'ab': a + ab
    assert(seg("aab") == ((2L, 0, "a ab")), s"got ${seg("aab")}")
    // unseen char → no path → ONE [UNK]
    assert(seg("zb") == ((1L, 1, "[UNK]")))
    // a 40-char word is past the serve bound (32) → [UNK] even though
    // every character is known
    assert(seg("ab" * 20) == ((1L, 1, "[UNK]")))

    val cnt = Unigram.tokenCounts(eval, "doc_id", "text", model)
      .as[(Long, Long, Long, Long)].head()
    // 5 words; pieces 1+2+1+1+1 = 6; 2 UNK
    assert(cnt == ((10L, 5L, 6L, 2L)), s"got $cnt")
  }

  test("k-best Viterbi: every path ranked under the (cost, pieces, " +
       "UTF-8) total order, rank 1 IS the Viterbi row, [UNK] rows " +
       "carry NULL cost") {
    val docs = Seq((1L, "ab ab ab ab a b")).toDF("doc_id", "text")
    val model = Unigram.train(docs, "text", seedMulti = 8,
      keepMulti = 8, emIters = 2)
    val eval = Seq((10L, s"ab aab zb ${"ab" * 20}")).toDF("doc_id", "text")
    val nb = Unigram.nbestSegments(eval, "text", model, nbest = 4)
      .as[(String, Int, Option[Long], Long, Int, String)].collect()
    val byWord = nb.groupBy(_._1)
    // 'ab' has exactly two segmentations; the single piece wins
    val ab = byWord("ab").sortBy(_._2)
    assert(ab.map(r => (r._2, r._6)).toSeq == Seq((1, "ab"), (2, "a b")),
      s"got ${ab.toSeq}")
    assert(ab(0)._3.get < ab(1)._3.get, "costs must strictly order")
    // 'aab': a+ab beats a+a+b (and 'aa' was never a candidate piece)
    val aab = byWord("aab").sortBy(_._2)
    assert(aab.map(r => (r._2, r._6)).toSeq ==
      Seq((1, "a ab"), (2, "a a b")), s"got ${aab.toSeq}")
    // path-less and over-length words: ONE rank-1 [UNK] row, NULL cost
    assert(byWord("zb").toSeq ==
      Seq(("zb", 1, None, 1L, 1, Unigram.Unk)))
    assert(byWord("ab" * 20).toSeq ==
      Seq((("ab" * 20), 1, None, 1L, 1, Unigram.Unk)))
    // rank 1 ≡ the Viterbi serve face, word for word
    val vit = Unigram.viterbiSegments(eval, "text", model)
      .as[(String, Long, Int, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    nb.filter(_._2 == 1).foreach { r =>
      assert(vit(r._1) == ((r._4, r._5, r._6)),
        s"rank-1 mismatch for ${r._1}")
    }
  }

  test("sampled segmentation: per-occurrence draws replayed from the " +
       "md5/exp-weight formula, deterministic across runs") {
    val docs = Seq((1L, "ab ab ab ab a b")).toDF("doc_id", "text")
    val model = Unigram.train(docs, "text", seedMulti = 8,
      keepMulti = 8, emIters = 2)
    val eval = Seq((10L, "ab ab ab aab zb"), (11L, "aab ab"))
      .toDF("doc_id", "text")
    val nb = Unigram.nbestSegments(eval, "text", model, nbest = 4)
      .as[(String, Int, Option[Long], Long, Int, String)].collect()
    val out = Unigram.sampleSegments(eval, "doc_id", "text", model,
        nbest = 4, alpha = 0.5)
      .as[(Long, Int, String, Int, Long, Int, String)].collect()
    // every occurrence appears once, keyed by its 1-based split index
    assert(out.map(r => (r._1, r._2)).sorted.toSeq ==
      Seq((10L, 1), (10L, 2), (10L, 3), (10L, 4), (10L, 5),
        (11L, 1), (11L, 2)))
    // independent replay of the draw contract:
    // w = floor(exp(−((α·Δcost)/1e6))·1e9+0.5), u = top-60-bit md5,
    // pick = first rank whose cumulative weight exceeds u mod W
    def md5u(key: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(key.getBytes("UTF-8"))
        .map(b => f"${b & 0xff}%02x").mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    }
    val cands = nb.groupBy(_._1).map { case (w, rows) =>
      val sorted = rows.sortBy(_._2)
      val cmin = sorted.flatMap(_._3).minOption
      val ws = sorted.map { r =>
        r._3 match {
          case None => 1000000000L
          case Some(c) => math.floor(math.exp(
            -((0.5 * (c - cmin.get).toDouble) / 1.0e6)) * 1.0e9
            + 0.5).toLong
        }
      }
      w -> ((sorted, ws.scanLeft(0L)(_ + _).tail))
    }
    out.foreach { r =>
      val (sorted, cum) = cands(r._3)
      val draw = md5u(s"${r._1}:${r._2}:${r._3}") % cum.last
      val exp = sorted(cum.count(_ <= draw))
      assert(r._4 == exp._2 && r._7 == exp._6,
        s"occurrence (${r._1},${r._2},${r._3}): got rank ${r._4} " +
          s"'${r._7}', expected rank ${exp._2} '${exp._6}'")
    }
    // rank 1's weight is exactly 1e9 by construction, so a word with
    // one dominant path still samples its alternatives: over the 4
    // 'ab' occurrences both segmentations must appear iff the replay
    // says so (sanity that the draw is not degenerate)
    val abRanks = out.filter(_._3 == "ab").map(_._4).toSet
    val abReplay = out.filter(_._3 == "ab").map { r =>
      val (_, cum) = cands("ab")
      cum.count(_ <= md5u(s"${r._1}:${r._2}:ab") % cum.last) + 1
    }.toSet
    assert(abRanks == abReplay)
    // determinism: a second run is row-identical
    val out2 = Unigram.sampleSegments(eval, "doc_id", "text", model,
        nbest = 4, alpha = 0.5)
      .as[(Long, Int, String, Int, Long, Int, String)].collect()
    assert(out.sortBy(r => (r._1, r._2)).toSeq ==
      out2.sortBy(r => (r._1, r._2)).toSeq)
  }

  test("sampled ids (the per-epoch pretraining artifact): epochs draw " +
       "DIFFERENT id streams that decode to the IDENTICAL clean text") {
    val docs = Seq((1L, "ab ab ab ab a b")).toDF("doc_id", "text")
    val model = Unigram.train(docs, "text", seedMulti = 8,
      keepMulti = 8, emIters = 2)
    val eval = Seq((10L, "ab ab ab ab ab ab a"), (11L, "aab ab ab ab"))
      .toDF("doc_id", "text")
    def epoch(e: Int) = {
      val enc = Unigram.encodeIdsSampled(eval, "doc_id", "text", model,
        nbest = 4, alpha = 0.5, epoch = e)
      val ids = enc.select("doc_id", "ids", "n_unk")
        .as[(Long, Seq[Int], Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      val dec = Unigram.decodeIds(enc, "doc_id", "ids", model)
        .as[(Long, String)].collect().toMap
      (ids, dec)
    }
    val (ids0, dec0) = epoch(0)
    val (ids1, dec1) = epoch(1)
    // no UNKs on the clean fixture, and decode is the identity for
    // BOTH epochs — segmentation varies, surface text never does
    assert(ids0.values.forall(_._2 == 0L) &&
      ids1.values.forall(_._2 == 0L))
    assert(dec0 == Map(10L -> "ab ab ab ab ab ab a",
      11L -> "aab ab ab ab"), s"got $dec0")
    assert(dec1 == dec0)
    // the salted draws really re-draw: with 10 'ab'/'aab' occurrences
    // at ≥ 2 live paths each, the two epochs' streams differ (a fixed
    // deterministic fact of the md5 values — verified here)
    assert(ids0.view.mapValues(_._1).toMap !=
      ids1.view.mapValues(_._1).toMap,
      s"epoch streams identical: $ids0")
    // and each epoch reproduces itself exactly
    assert(epoch(0)._1 == ids0)
  }

  test("pieceVocab: [UNK]/space reserved at 0/1, pieces in (q desc, " +
       "UTF-8) order; encodeIds interleaves id-1 boundaries; decode " +
       "roundtrips UNK-free text") {
    val docs = Seq((1L, "ab ab ab ab a b")).toDF("doc_id", "text")
    val model = Unigram.train(docs, "text", seedMulti = 8, keepMulti = 8,
      emIters = 2)
    val v = Unigram.pieceVocab(model).as[(String, Int)].collect().toMap
    assert(v("[UNK]") == 0 && v(" ") == 1)
    // 'ab' dominates the corpus → highest q → first content id
    assert(v("ab") == 2, s"got $v")
    assert(v.values.toSeq.distinct.length == v.size, "bijection")

    val eval = Seq((10L, "ab a zb")).toDF("doc_id", "text")
    val enc = Unigram.encodeIds(eval, "doc_id", "text", model)
      .select("doc_id", "ids", "n_unk", "n_tok")
      .as[(Long, Seq[Int], Long, Long)].head()
    // flat: [ab] ++ [sp] ++ [a] ++ [sp] ++ [UNK]
    assert(enc._2 == Seq(v("ab"), 1, v("a"), 1, 0), s"got $enc")
    assert(enc._3 == 1L && enc._4 == 5L)
    val encDf = Unigram.encodeIds(eval, "doc_id", "text", model)
    val dec = Unigram.decodeIds(encDf, "doc_id", "ids", model)
      .as[(Long, String)].head()
    assert(dec._2 == "ab a [UNK]", s"got $dec")
    val clean = Seq((11L, "ab a b ab")).toDF("doc_id", "text")
    val rt = Unigram.decodeIds(
        Unigram.encodeIds(clean, "doc_id", "text", model),
        "doc_id", "ids", model)
      .as[(Long, String)].head()
    assert(rt._2 == "ab a b ab", "UNK-free roundtrip is the identity")
  }

  test("unigram.vocab TSV export→import is the identity; blank and " +
       "tab-less lines are loud errors (positional ids)") {
    val docs = Seq((1L, "ab ab ab ab a b")).toDF("doc_id", "text")
    val model = Unigram.train(docs, "text", seedMulti = 8, keepMulti = 8,
      emIters = 2)
    val path = s"/tmp/graft_test_univocab_${ProcessHandle.current().pid()}"
    Unigram.exportVocabTsv(model, path)
    val first = spark.sparkContext
      .textFile(s"$path/unigram.vocab", 1).first()
    assert(first == "[UNK]\t0", s"line 1 must be the [UNK] row, got: $first")
    val back = Unigram.importVocabTsv(spark, path)
      .select("piece", "token_id").as[(String, Int)].collect().toSet
    val orig = Unigram.pieceVocab(model)
      .as[(String, Int)].collect().toSet
    assert(back == orig, "export→import identity")
    // q column round-trips the exact integer probabilities
    val backQ = Unigram.importVocabTsv(spark, path)
      .filter(org.apache.spark.sql.functions.col("piece") === "ab")
      .select("q").as[Long].head()
    val origQ = model.filter(
        org.apache.spark.sql.functions.col("piece") === "ab")
      .select("q").as[Long].head()
    assert(backQ == origQ)
    val bad = s"/tmp/graft_test_univocabbad_${ProcessHandle.current().pid()}"
    val d = new java.io.File(s"$bad/unigram.vocab"); d.mkdirs()
    java.nio.file.Files.write(new java.io.File(d, "part-0").toPath,
      "[UNK]\t0\nnotab\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val e = intercept[org.apache.spark.SparkException] {
      Unigram.importVocabTsv(spark, bad).collect()
    }
    assert(e.getMessage.contains("malformed") ||
      Option(e.getCause).exists(_.getMessage.contains("malformed")))
    // a non-integer q names its line, like the adjacent loud errors
    val badq = s"/tmp/graft_test_univocabbadq_${ProcessHandle.current().pid()}"
    val dq = new java.io.File(s"$badq/unigram.vocab"); dq.mkdirs()
    java.nio.file.Files.write(new java.io.File(dq, "part-0").toPath,
      "[UNK]\t0\nx\tnotanumber\n"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val eq = intercept[org.apache.spark.SparkException] {
      Unigram.importVocabTsv(spark, badq).collect()
    }
    assert(eq.getMessage.contains("non-integer q at line 2") ||
      Option(eq.getCause).exists(
        _.getMessage.contains("non-integer q at line 2")))
  }

  test("pieceVocab renumbers densely when a trained piece collides " +
       "with a reserved row (the positional TSV must stay gap-free)") {
    // a corpus whose words contain literal [UNK] trains that piece;
    // min-id dedup collapses it onto the reserved id 0, and the
    // vacated ranked slot must NOT become a gap
    val model = Seq(("[UNK]", 5L, 500000000L), ("ab", 3L, 300000000L),
      ("a", 2L, 200000000L)).toDF("piece", "u", "q")
    val v = Unigram.pieceVocab(model).as[(String, Int)].collect().toMap
    assert(v("[UNK]") == 0 && v(" ") == 1 && v("ab") == 2 && v("a") == 3,
      s"got $v")
    assert(v.values.toSeq.sorted == (0 until v.size), s"dense ids: $v")
    val path = s"/tmp/graft_test_univocabcol_${ProcessHandle.current().pid()}"
    Unigram.exportVocabTsv(model, path)
    val back = Unigram.importVocabTsv(spark, path)
      .select("piece", "token_id").as[(String, Int)].collect().toMap
    assert(back == v, "positional roundtrip survives the collision")
  }

  test("SentencePiece-convention export: <unk> at id 0, (▁piece, piece) " +
       "line pairs in (q desc, UTF-8) order sharing the exact float " +
       "log-prob; import reconstructs the integer model bit for bit") {
    // a unicode word exercises multi-byte pieces under the ▁ prefix
    val docs = Seq((1L, "über ab über ab ab b")).toDF("doc_id", "text")
    val model = Unigram.train(docs, "text", seedMulti = 8, keepMulti = 8,
      emIters = 2)
    val path = s"/tmp/graft_test_unisp_${ProcessHandle.current().pid()}"
    Unigram.exportVocabSp(model, path)
    val lines = spark.sparkContext
      .textFile(s"$path/unigram.sp.vocab", 1).collect()
    assert(lines(0) == "<unk>\t0", s"line 1 must be <unk>, got ${lines(0)}")
    assert((lines.length - 1) % 2 == 0, "pieces come as line PAIRS")
    (1 until lines.length by 2).foreach { i =>
      val Array(bp, bs) = lines(i).split("\t")
      val Array(pp, ps) = lines(i + 1).split("\t")
      assert(bp == "▁" + pp,
        s"lines ${i + 1}/${i + 2}: '$bp' is not the ▁-form of '$pp'")
      assert(bs == ps, "the two forms share one score")
      assert(bs.toDouble <= 0.0, "scores are log-probs")
    }
    // pairs are in SentencePiece's score-descending order
    val scores = (1 until lines.length by 2)
      .map(i => lines(i).split("\t")(1).toDouble)
    assert(scores == scores.sorted.reverse, s"not q-desc: $scores")
    // the inverse import recovers the EXACT integer model through the
    // float rendering, plus each piece's ▁-form line id
    val back = Unigram.importVocabSp(spark, path)
    val gotModel = back.select("piece", "q")
      .as[(String, Long)].collect().toSet
    val origModel = model.select("piece", "q")
      .as[(String, Long)].collect().toSet
    assert(gotModel == origModel, "export→import is the exact model")
    back.select("piece", "sp_id").as[(String, Int)].collect()
      .foreach { case (p, id) =>
        assert(lines(id).startsWith("▁" + p + "\t"),
          s"sp_id $id is not the ▁-form line of '$p'") }
  }

  test("SentencePiece interop is loud on every non-roundtrippable " +
       "shape: ▁-prefixed pieces, tampered pairs, foreign scores") {
    // a piece starting with ▁ cannot render unambiguously → export refuses
    val badModel = Seq(("▁x", 1L, 500000000L)).toDF("piece", "u", "q")
    val e0 = intercept[IllegalArgumentException] {
      Unigram.exportVocabSp(badModel,
        s"/tmp/graft_test_unispnever_${ProcessHandle.current().pid()}")
    }
    assert(e0.getMessage.contains("boundary marker"), e0.getMessage)
    def writeVocab(tag: String, content: String): String = {
      val p = s"/tmp/graft_test_unisp${tag}_${ProcessHandle.current().pid()}"
      val d = new java.io.File(s"$p/unigram.sp.vocab"); d.mkdirs()
      java.nio.file.Files.write(new java.io.File(d, "part-0").toPath,
        content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      p
    }
    def failsWith(path: String, msg: String): Unit = {
      val e = intercept[org.apache.spark.SparkException] {
        Unigram.importVocabSp(spark, path).collect()
      }
      assert(e.getMessage.contains(msg) ||
        Option(e.getCause).exists(_.getMessage.contains(msg)),
        s"expected '$msg', got: ${e.getMessage}")
    }
    // missing <unk> header
    failsWith(writeVocab("nounk", "▁a\t-0.5\na\t-0.5\n"),
      "line 1 must be the reserved")
    // pair whose scores differ (a hand-edited file)
    failsWith(writeVocab("badpair", "<unk>\t0\n▁a\t-0.5\na\t-0.25\n"),
      "pair scores differ")
    // odd row count (a dropped line)
    failsWith(writeVocab("odd", "<unk>\t0\n▁a\t-0.5\n"),
      "odd count is non-roundtrippable")
    // a consistent pair whose score is not ln(q/1e9) for ANY integer q
    // (-0.5 is irrational in that family) → rejected, never re-quantized
    failsWith(writeVocab("foreign", "<unk>\t0\n▁a\t-0.5\na\t-0.5\n"),
      "does not render from any integer probability")
  }

  test("both vocab importers read exactly one data file and skip " +
       "marker files") {
    val base = s"/tmp/graft_test_univocabfiles_${ProcessHandle.current().pid()}"
    def write(tag: String, file: String, files: Map[String, String]): String = {
      val d = new java.io.File(s"$base/$tag/$file"); d.mkdirs()
      files.foreach { case (name, content) =>
        java.nio.file.Files.write(new java.io.File(d, name).toPath,
          content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
      s"$base/$tag"
    }
    val sp = "<unk>\t0\n▁a\t" + Unigram.spScore(500000000L) + "\na\t" +
      Unigram.spScore(500000000L) + "\n"
    val importers =
      Seq[(String, String, String => org.apache.spark.sql.DataFrame)](
        ("unigram.vocab", "[UNK]\t0\na\t7\n",
          p => Unigram.importVocabTsv(spark, p)),
        ("unigram.sp.vocab", sp, p => Unigram.importVocabSp(spark, p)))
    importers.foreach { case (file, content, read) =>
      // two data files: positional ids are unsound → refuse
      val multi = write(s"multi_$file", file,
        Map("part-0" -> content, "part-1" -> content))
      val e = intercept[IllegalArgumentException](read(multi))
      assert(e.getMessage.contains("exactly one data file"), e.getMessage)
      // _SUCCESS/dot markers do not count as data files
      val markers = write(s"markers_$file", file,
        Map("part-0" -> content, "_SUCCESS" -> "", ".crc" -> "x"))
      val n = read(markers).count()
      assert(n == (if (file == "unigram.vocab") 2L else 1L), s"$file: $n rows")
    }
  }

  test("training is a pure function of the corpus: identical runs, " +
       "identical models (integer cross-word aggregation)") {
    val docs = graft.sources.Tables
      .load(spark, "/root/testdata/sf0.001", "documents")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"))
    def run() = Unigram.train(docs, "text", seedMulti = 32,
        keepMulti = 16, emIters = 2)
      .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
    val a = run(); val b = run()
    assert(a == b, "nondeterministic training")
    assert(a.nonEmpty && a.map(_._3).sum <= 1000000000L)
  }
}
