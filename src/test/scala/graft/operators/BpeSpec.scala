package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** BPE merge training: a fully hand-computed corpus pins the learned
  * merge sequence, tie-breaks, greedy non-overlap semantics, early
  * exhaustion, and the apply path; the report contract backs the graded
  * query.
  */
class BpeSpec extends SparkTestBase {

  private def corpus(rows: (String, Int)*) = {
    import spark.implicits._
    rows.toSeq.flatMap { case (t, k) => Seq.fill(k)(t) }.toDF("text")
  }

  test("hand-computed corpus learns the exact merge sequence") {
    // words: "low" x5, "lower" x2, "newest" x6  (whitespace-tokenized)
    // pair counts round 1: (l,o)=7, (o,w)=7, (w,e)=8, (e,s)=6, (s,t)=6,
    // (n,e)=6, (e,w)=8+... recount: "newest": n-e e-w w-e e-s s-t → (e,w)=6,
    // (w,e): low(0) lower(1 in "we"? l-o o-w no)… "lower": l-o o-w w-e e-r.
    // (w,e) = lower 2 + newest 6 = 8 → top; ties none.
    val df = corpus(("low low low low low", 1), ("lower lower", 1), ("newest", 6))
    val m = Bpe.train(df, "text", 3).orderBy("rank")
      .collect().map(r => (r.getString(1), r.getString(2), r.getLong(3)))
    assert(m(0) == (("w", "e", 8L)), s"merge0 was ${m(0)}")
    // after (w,e)->we: "low"x5 unchanged, "lower"->l o we r, "newest"->n e we s t
    // pairs: (l,o)=7, (o,w)=5, (o,we)=2, (we,r)=2, (n,e)=6, (e,we)=6, (we,s)=6, (s,t)=6
    assert(m(1) == (("l", "o", 7L)), s"merge1 was ${m(1)}")
    // after (l,o)->lo: "lo w"x5, "lo we r"x2, "n e we s t"x6
    // pairs: (lo,w)=5, (lo,we)=2, (we,r)=2, (n,e)=6, (e,we)=6, (we,s)=6, (s,t)=6
    // top count 6 tie between (e,we),(n,e),(s,t),(we,s) → left asc: "e"<"n"<"s"<"we"
    assert(m(2) == (("e", "we", 6L)), s"merge2 was ${m(2)}")
  }

  test("greedy merge is left-to-right non-overlapping") {
    assert(Bpe.mergePair(List("a", "a", "a"), "a", "a") == List("aa", "a"))
    assert(Bpe.mergePair(List("a", "a", "a", "a"), "a", "a") == List("aa", "aa"))
    assert(Bpe.applyMerges("aaaa", Seq(("a", "a"), ("aa", "aa"))) == List("aaaa"))
  }

  test("greedy merge on oracle trigger shapes: XYXY repeats and odd runs") {
    // the word shapes where a ONE-SIDED fenced-replace oracle diverges
    // from the kernel: consecutive (l,r) occurrences share the middle
    // fence ('erer' → [er,e,r] there, [er,er] here) and odd same-symbol
    // runs drift even under fixpoint iteration ('eeeee' fixpoint gives
    // [ee,e,ee]; greedy gives [ee,ee,e]) — the two-sided chr(1)‖s‖chr(2)
    // oracle encoding matches all of these in a single replace pass
    assert(Bpe.mergePair(List("e", "r", "e", "r"), "e", "r") == List("er", "er"))
    assert(Bpe.mergePair(List("e", "r", "e", "r", "e", "r"), "e", "r") ==
      List("er", "er", "er"))
    assert(Bpe.mergePair(List("e", "e", "e", "e", "e"), "e", "e") ==
      List("ee", "ee", "e"))
    assert(Bpe.applyMerges("erer", Seq(("e", "r"), ("er", "er"))) == List("erer"))
    assert(Bpe.applyMerges("ererer", Seq(("e", "r"), ("er", "er"))) ==
      List("erer", "er"))
    assert(Bpe.applyMerges("rere", Seq(("e", "r"))) == List("r", "er", "e"))
    assert(Bpe.applyMerges("atat", Seq(("t", "a"))) == List("a", "ta", "t"))
  }

  test("training stops early when the corpus runs out of pairs") {
    val df = corpus(("a b c", 4))
    val m = Bpe.train(df, "text", 10)
    assert(m.count() == 0) // single-char words: nothing to merge, no crash
  }

  test("trainReport: wellformed order, compression, first merge exposed") {
    val df = corpus(("low low low low low", 1), ("lower lower", 1), ("newest", 6))
    val r = Bpe.trainReport(df, "text", 4).collect()(0)
    assert(r.getLong(0) == 4)
    assert(r.getString(1) == "w" && r.getString(2) == "e" && r.getLong(3) == 8L)
    assert(r.getBoolean(4), "merge order not well-formed")
    assert(r.getBoolean(5), "no compression after 4 merges")
  }

  test("encodeWord equals the rank-order fold on every word of a real train run") {
    // the iterative lowest-rank kernel must segment identically to the
    // Sennrich fold — proven over a trained table on a mixed corpus,
    // including words with repeated/overlapping pairs
    val df = corpus(("low lower lowest newest new banana bandana aaaa aaa", 3),
      ("the theme then than that tata table stable", 2))
    val merges = Bpe.train(df, "text", 12).orderBy("rank")
      .collect().map(r => (r.getString(1), r.getString(2)))
    val rk = merges.zipWithIndex.toMap
    val words = Seq("low", "lower", "lowest", "newest", "new", "banana",
      "bandana", "aaaa", "aaa", "aaaaa", "the", "theme", "then", "than",
      "that", "tata", "table", "stable", "unseen", "x", "")
    words.foreach { w =>
      assert(Bpe.encodeWord(w, rk, merges) == Bpe.applyMerges(w, merges.toSeq),
        s"kernels diverged on '$w'")
    }
  }

  test("encode: positions, ids, round-trip law, memo-independent of partitioning") {
    import spark.implicits._
    val docs = Seq((0L, "data table  "), (1L, "tab later"), (2L, ""),
      (3L, "a")).toDF("doc_id", "text")
    val merges = Seq((0L, "a", "t"), (1L, "t", "a"), (2L, "ta", "b"),
      (3L, "l", "e"), (4L, "e", "r")).toDF("rank", "left", "right")
    val out = Bpe.encode(docs, "doc_id", "text", merges)
      .orderBy("doc_id", "tok_pos", "sym_pos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getLong(4)))
    // "data": d-a-t-a → r0 (a,t) → d-at-a (greedy leftmost);
    // "table": t-a-b-l-e → r1 → ta-b-l-e → r2 → tab-l-e → r3 → tab-le
    // "tab": → tab; "later": l-a-t-er → r0 → l-at-er (r3 (l,e) no, r4 er)
    val doc0 = out.filter(_._1 == 0L).map(t => (t._4, t._5)).toSeq
    assert(doc0 == Seq(("d", 'd'.toLong), ("at", 65536L), ("a", 'a'.toLong),
      ("tab", 65538L), ("le", 65539L)), s"doc0 = $doc0")
    val doc1 = out.filter(_._1 == 1L).map(_._4).toSeq
    assert(doc1 == Seq("tab", "l", "at", "er"), s"doc1 = $doc1")
    // empty doc → no rows; single-char doc → one symbol, codepoint id
    assert(!out.exists(_._1 == 2L))
    assert(out.filter(_._1 == 3L).toSeq ==
      Seq((3L, 0L, 0L, "a", 'a'.toLong)))
    // round-trip law: concatenating a token's subwords reproduces it
    val rebuilt = out.groupBy(t => (t._1, t._2)).view.mapValues(
      _.sortBy(_._3).map(_._4).mkString).toMap
    val expected = Map((0L, 0L) -> "data", (0L, 1L) -> "table",
      (1L, 0L) -> "tab", (1L, 1L) -> "later", (3L, 0L) -> "a")
    assert(rebuilt == expected)
    // content-stable under repartition (memo is per-partition state only)
    val again = Bpe.encode(docs.repartition(5), "doc_id", "text", merges)
      .orderBy("doc_id", "tok_pos", "sym_pos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getLong(4)))
    assert(again.toSeq == out.toSeq)
  }

  test("decode inverts encode: whitespace-normalized round trip") {
    import spark.implicits._
    val docs = Seq((0L, "  data   table "), (1L, "later"), (2L, ""))
      .toDF("doc_id", "text")
    val merges = Seq((0L, "a", "t"), (1L, "t", "a"), (2L, "ta", "b"))
      .toDF("rank", "left", "right")
    val out = Bpe.decode(Bpe.encode(docs, "doc_id", "text", merges))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    // multiple/leading/trailing whitespace normalizes to single spaces;
    // the empty doc produces no segments and is absent from the output
    assert(out == Seq((0L, "data table"), (1L, "later")))
  }

  test("encode and train segment by CODE POINTS — surrogate pairs intact") {
    import spark.implicits._
    val docs = Seq((0L, "a🍕b 🍕🍕")).toDF("doc_id", "text")
    val merges = Seq((0L, "🍕", "🍕")).toDF("rank", "left", "right")
    val out = Bpe.encode(docs, "doc_id", "text", merges)
      .orderBy("tok_pos", "sym_pos").collect()
      .map(r => (r.getLong(1), r.getString(3), r.getLong(4)))
    // token 0 "a🍕b" → a, 🍕, b (no merge fires); token 1 "🍕🍕" → 🍕🍕
    assert(out.toSeq == Seq((0L, "a", 'a'.toLong),
      (0L, "🍕", 0x1F355L), (0L, "b", 'b'.toLong),
      (1L, "🍕🍕", 65536L)), s"got ${out.toSeq}")
  }

  test("merges compose: every learned symbol is reachable from chars") {
    val df = spark.range(0, 200)
      .select(concat(lit("tok"), (col("id") % 17).cast("string"),
        lit(" banana bandana")).as("text"))
    val m = Bpe.train(df, "text", 8).orderBy("rank")
      .collect().map(r => (r.getString(1), r.getString(2)))
    var built = Set.empty[String]
    m.foreach { case (l, r) =>
      assert(l.length == 1 || built.contains(l), s"left '$l' unbuildable")
      assert(r.length == 1 || built.contains(r), s"right '$r' unbuildable")
      built += (l + r)
    }
  }

  test("trainBatched with window=1 degenerates to exactly sequential train") {
    // one candidate per round = one merge per round = Sennrich order;
    // any drift here means the batched loop's counting/apply/rank
    // bookkeeping diverged from the sequential trainer
    val df = corpus(("low low low low low", 1), ("lower lower", 1),
      ("newest", 6), ("wider wider wider", 2))
    val seq = Bpe.train(df, "text", 6).orderBy("rank")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    val bat = Bpe.trainBatched(df, "text", 6, window = 1, maxRounds = 6)
      .orderBy("rank")
      .collect().map(r => (r.getLong(0), r.getString(2), r.getString(3), r.getLong(4)))
    assert(seq.toSeq == bat.toSeq,
      s"window=1 batched drifted from sequential:\n${seq.toSeq}\n${bat.toSeq}")
  }

  test("trainBatched: rounds are non-interacting and ranks well-formed") {
    val df = corpus(("low low low low low", 1), ("lower lower", 1),
      ("newest", 6), ("wider wider wider", 2))
    val rows = Bpe.trainBatched(df, "text", 10, window = 8, maxRounds = 10)
      .orderBy("rank")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getString(3)))
    assert(rows.map(_._1).toSeq == rows.indices.map(_.toLong), "ranks not dense")
    assert(rows.map(_._2).toSeq.sorted == rows.map(_._2).toSeq, "rounds not monotone")
    // within a round, every pair must satisfy the acceptance guard vs
    // every EARLIER pair of the same round (rank order = window order)
    rows.groupBy(_._2).foreach { case (_, rs) =>
      val inRound = rs.sortBy(_._1).map(t => (t._3, t._4))
      for (j <- inRound.indices; i <- 0 until j) {
        val (a, b) = inRound(i); val (l, r) = inRound(j)
        assert(r != a && l != b && l != a + b && r != a + b,
          s"round batch interacts: ($a,$b) then ($l,$r)")
      }
    }
    // every learned symbol still buildable across rounds
    var built = Set.empty[String]
    rows.foreach { case (_, _, l, r) =>
      assert(l.length == 1 || built.contains(l), s"left '$l' unbuildable")
      assert(r.length == 1 || built.contains(r), s"right '$r' unbuildable")
      built += (l + r)
    }
  }

  test("trainBatched: 64 merges on a symbol-diverse corpus within the job budget") {
    // the scale contract: jobs scale with ROUNDS, not merges — on a
    // corpus with enough non-interacting top pairs, 64 merges must cost
    // at most merges/8 Spark jobs (vs ~2 jobs per merge sequentially)
    import spark.implicits._
    val alpha = ('a' to 'z').map(_.toString) ++
      (0 until 40).map(i => (0x3b1 + i).toChar.toString)
    val rnd = new scala.util.Random(7)
    val words = (0 until 4000).map { _ =>
      val len = 4 + rnd.nextInt(9)
      (0 until len).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
    }
    val df = words.grouped(10).map(_.mkString(" ")).toSeq.toDF("text")
    // trainBatched is eager (per-round collects run inside the call), so
    // the count covers exactly the training jobs; the result is a local
    // relation, counted afterwards
    val (m, jobs) = jobsDuring(Bpe.trainBatched(df, "text", 64, window = 64, maxRounds = 16))
    assert(m.count() == 64, "diverse corpus must yield all 64 merges")
    assert(jobs <= 64 / 8,
      s"trainBatched(64) cost $jobs jobs — batching is not amortizing")
  }
}
