package graft

import org.apache.spark.sql.functions._
import graft.text.{Decontaminate, TextAnalysis}

/** Repetition quality signals and train/eval decontamination — hand-computed
  * goldens on tiny corpora plus the structural properties that matter at
  * scale (decontamination never drops a clean doc; overlap threshold).
  */
class CorpusHygieneSpec extends SparkTestBase {
  import spark.implicits._

  test("repetitionSignals: hand-computed fractions") {
    val docs = Seq(
      (1L, "a b a b a b"),      // words: 6, distinct 2; bigrams: 5 ("a b"×3, "b a"×2)
      (2L, "x y z w"),          // all unique
      (3L, "q q q q")           // one word repeated
    ).toDF("doc_id", "text")
    val out = TextAnalysis.repetitionSignals(docs, "doc_id", "text")
      .orderBy("doc_id")
      .as[(Long, Int, Double, Double, Double)].collect()

    // doc 1: dup_word = (6-2)/6; bigrams 5 total, 2 distinct -> (5-2)/5;
    // top bigram "a b" count 3 * len 3 = 9 chars over 11 chars of text
    assert(out(0) == ((1L, 6, 0.666667, 0.6, round6(9.0 / 11))))
    // doc 2: nothing repeats
    assert(out(1) == ((2L, 4, 0.0, 0.0, round6(3.0 / 7))))
    // doc 3: dup_word = 3/4; bigrams "q q"×3 -> (3-1)/3; mass 3*3=9 over 7
    assert(out(2) == ((3L, 4, 0.75, 0.666667, round6(9.0 / 7))))
  }

  test("repetitionSignals: single-word doc degenerates safely") {
    val out = TextAnalysis.repetitionSignals(
        Seq((1L, "solo")).toDF("doc_id", "text"), "doc_id", "text")
      .as[(Long, Int, Double, Double, Double)].head()
    assert(out == ((1L, 1, 0.0, 0.0, 0.0)))
  }

  test("repetitionSignals: native kernel matches the array-program model") {
    // independent model = the pre-native higher-order-function formulation
    // (split → bigram transform → array_sort fold); the native kernel must
    // be digit-identical on every edge case and on random text
    def model(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val ws = split(col("text"), " ")
      val nW = size(ws)
      val bigrams = when(nW >= 2,
        transform(sequence(lit(0), nW - 2),
          i => array_join(slice(ws, i + 1, lit(2)), " ")))
        .otherwise(array().cast("array<string>"))
      val nB = size(bigrams)
      val bestMass = aggregate(
        array_sort(bigrams),
        struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
        (st, x) => {
          val same = st.getField("prev") === x
          val closed = st.getField("run") * length(st.getField("prev")).cast("long")
          struct(
            x.as("prev"),
            when(same, st.getField("run") + 1L).otherwise(lit(1L)).as("run"),
            when(same, st.getField("best"))
              .otherwise(greatest(st.getField("best"), closed)).as("best"))
        },
        st => greatest(st.getField("best"),
          st.getField("run") * length(st.getField("prev")).cast("long")))
      df.select(col("doc_id"), nW.as("n_words"),
        round((nW - size(array_distinct(ws))) / nW.cast("double"), 6)
          .as("dup_word_frac"),
        round((nB - size(array_distinct(bigrams))) / greatest(nB, lit(1)).cast("double"), 6)
          .as("dup_bigram_frac"),
        round(bestMass / greatest(length(col("text")), lit(1)).cast("double"), 6)
          .as("top_bigram_char_frac"))
    }
    val edge = Seq(
      "",                    // split("") = [""] — one empty word
      " ",                   // two empty words, bigram " "
      "a ", " a", "a  b",    // leading/trailing/double separators keep empties
      "solo",
      "é ü é ü é",           // multibyte chars
      "😀 x 😀 x", // emoji: char length ≠ code points
      "tab\tand\nnewline stay one word",
      "a b a b a b a")
    val rnd = new scala.util.Random(42)
    val fuzz = (0 until 200).map { _ =>
      (0 until (1 + rnd.nextInt(40)))
        .map(_ => Seq("a", "bb", "ccc", "é", "😀", "")(rnd.nextInt(6)))
        .mkString(" ")
    }
    val docs = (edge ++ fuzz).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val fast = TextAnalysis.repetitionSignals(docs, "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    val ref = model(docs).orderBy("doc_id").collect().toSeq
    assert(fast == ref)
  }

  test("decontaminate drops exactly the overlapping train docs") {
    val bench = Seq((100L, "the secret benchmark answer is forty two exactly")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "totally unrelated text about cooking pasta dinner tonight"),
      (2L, "leaked copy the secret benchmark answer is forty two exactly here"),
      (3L, "another clean document with its own fresh words only")
    ).toDF("doc_id", "text")
    val kept = Decontaminate.decontaminate(train, bench, "doc_id", "text", n = 5)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L), s"doc 2 shares a 5-gram with the benchmark; got $kept")
  }

  test("a short benchmark doc embedded in a long train doc is caught") {
    // a 3-word benchmark item emits only its whole text as a shingle under
    // n = 5, which never equals any 5-gram — the short-doc screen must
    // catch it by whole-text containment against train 3-grams
    val bench = Seq(
      (100L, "capital of malta"),
      (101L, "one two three four five six seven benchmark items")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "students often ask what is the capital of malta during class"),
      (2L, "totally unrelated long document about cooking pasta dinner tonight ok"),
      (3L, "capital of malta"), // whole-doc exact match, both short
      (4L, "one two three four five six seven benchmark items leaked here")
    ).toDF("doc_id", "text")
    val kept = Decontaminate.decontaminate(train, bench, "doc_id", "text", n = 5)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L), s"docs 1/3 contain the short bench item, 4 a 5-gram; got $kept")
    // bloom path keeps its byte-identical contract through the short screen
    val keptBloom = Decontaminate.decontaminateBloom(train, bench, "doc_id", "text", n = 5)
      .select("doc_id").as[Long].collect().toSet
    assert(keptBloom == kept)
  }

  test("minOverlap raises the bar to >= k shared shingles") {
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta eta theta")).toDF("doc_id", "text")
    // shares exactly one 5-gram window with the benchmark
    val train = Seq((1L, "alpha beta gamma delta epsilon completely different tail here")).toDF("doc_id", "text")
    val one = Decontaminate.contaminationOverlap(train, bench, "doc_id", "text", n = 5)
      .as[(Long, Long)].collect()
    assert(one.toSeq == Seq((1L, 1L)))
    val kept = Decontaminate.decontaminate(train, bench, "doc_id", "text", n = 5, minOverlap = 2)
      .select("doc_id").as[Long].collect()
    assert(kept.toSeq == Seq(1L), "below the overlap threshold the doc survives")
  }

  test("bloom path matches the exact path bit-for-bit, even when the sketch lies") {
    // 120 docs sharing a "common suffix tail phrase words here now" 5-gram
    // family; every 4th doc is the benchmark. fpp 0.5 + an undersized
    // expectedItems force the sketch to emit REAL false positives — the
    // exact verify join must remove every one of them.
    val docs = (0L until 120L).map { i =>
      (i, s"doc u$i v${i % 7} w${i % 3} common suffix tail phrase words here now")
    }.toDF("doc_id", "text")
    val train = docs.filter(col("doc_id") % 4 =!= 0)
    val bench = docs.filter(col("doc_id") % 4 === 0)
    val exact = Decontaminate.decontaminate(train, bench, "doc_id", "text", n = 5)
      .select("doc_id").as[Long].collect().sorted.toSeq
    for (expected <- Seq(-1L, 2L)) { // right-sized and deliberately undersized
      val bloom = Decontaminate.decontaminateBloom(
          train, bench, "doc_id", "text", n = 5, fpp = 0.5, expectedItems = expected)
        .select("doc_id").as[Long].collect().sorted.toSeq
      assert(bloom == exact, s"bloom(expected=$expected) diverged from exact")
    }
    // overlap counts (not just the kept set) also match exactly
    val exactOv = Decontaminate.contaminationOverlap(train, bench, "doc_id", "text", n = 5)
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    val bloomOv = Decontaminate.contaminationOverlapBloom(
        train, bench, "doc_id", "text", n = 5, fpp = 0.5)
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(bloomOv == exactOv)
  }

  test("bloom prefilter is a narrow map over the train scan (no pre-filter exchange)") {
    // parquet-backed so Catalyst can't fold the corpus into a LocalTableScan
    val dir = tempDir("graft_bloomplan")
    (0L until 50L).map(i => (i, s"w$i x$i y$i z$i common tail words here"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(dir)
    val docs = spark.read.parquet(dir)
    val lines = Decontaminate.contaminationOverlapBloom(
        docs.filter(col("doc_id") % 5 =!= 0), docs.filter(col("doc_id") % 5 === 0),
        "doc_id", "text", n = 5, fpp = 0.01)
      .queryExecution.executedPlan.toString.linesIterator.toVector
    // the probe must be a Filter in the plan, and between it and the train
    // scan BELOW it there must be no Exchange: the raw train shingle stream
    // is prefiltered map-side, in the scan's own stage — only fpp-bounded
    // survivors ever shuffle
    val fi = lines.indexWhere(l => l.contains("Filter") &&
      l.contains("graft_bloom_might_contain"))
    assert(fi >= 0, s"bloom probe is not a Filter:\n${lines.mkString("\n")}")
    val below = lines.drop(fi + 1)
    val si = below.indexWhere(_.contains("Scan"))
    assert(si >= 0, s"no train scan under the bloom filter:\n${lines.mkString("\n")}")
    assert(!below.take(si).exists(_.contains("Exchange")),
      "a shuffle sits between the train scan and the bloom prefilter:\n" +
        lines.mkString("\n"))
  }

  test("decontamination plan broadcasts the benchmark shingle set") {
    val docs = (0L until 50L).map(i => (i, s"w${i} x${i} y${i} z${i} common tail words here")).toDF("doc_id", "text")
    val plan = Decontaminate.decontaminate(
      docs.filter(col("doc_id") % 5 =!= 0), docs.filter(col("doc_id") % 5 === 0),
      "doc_id", "text", n = 5).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"benchmark side should broadcast:\n$plan")
  }

  test("trainPrep: filters + dedup + epoch mixing + gap-free pack manifest") {
    import graft.text.Curation
    val base = (0L until 200L).map { i =>
      val tail = (0 until 12).map(j => s"w${(i * 31 + j * 7) % 997}").mkString(" ")
      (i, s"the and of document number $i says $tail", s"src${i % 4}")
    }
    val dupText = "the and of duplicated text " + (0 until 30).map(j => s"d$j").mkString(" ")
    val docs = (base ++ Seq(
      (900L, dupText, "src0"), (901L, dupText + " x", "src1"), // near-dup pair
      (950L, "el los y " * 30, "src0"),                        // Spanish
      (951L, "the and of", "src0"))                            // too short
    ).toDF("doc_id", "text", "source")
    val out = Curation.trainPrep(docs, "doc_id", "text", "source",
      lang = "en", minChars = 50,
      weights = Map("src1" -> 2.25, "src2" -> 0.5, "src3" -> 0.0))
    val ids = out.select(
      split(col("pack_id"), ":").getItem(0).cast("long").as("id"),
      split(col("pack_id"), ":").getItem(1).cast("int").as("c"))
    val perId = ids.groupBy("id").agg(count(lit(1)).as("n"), max("c").as("mx"))
      .as[(Long, Long, Int)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(!perId.contains(950L) && !perId.contains(951L),
      "non-English and sub-minChars docs must be filtered")
    assert(perId.contains(900L) != perId.contains(901L),
      "the near-dup pair must collapse to one canonical doc")
    val baseIds = perId.keySet.filter(_ < 200L)
    assert(baseIds.filter(_ % 4 == 3).isEmpty, "src3 (weight 0) dropped")
    assert(baseIds.filter(_ % 4 == 0).forall(perId(_)._1 == 1L),
      "default-weight docs appear exactly once")
    assert(baseIds.filter(_ % 4 == 1).forall(i => Seq(2L, 3L).contains(perId(i)._1)),
      "2.25-epoch docs appear 2 or 3 times")
    assert(perId.forall { case (_, (n, mx)) => mx == n - 1 },
      "copy_idx contiguous from 0 per doc")
    // the manifest tiles each bucket's token stream with no gaps/overlaps
    val rows = out.as[(String, Long, Int, Long, Long, Long)].collect()
    rows.groupBy(_._3).foreach { case (b, ds) =>
      val total = ds.map(_._2).sum
      val lastEnd = ds.map { case (_, n, _, f, _, off) => f * 512 + off + n }.max
      assert(lastEnd == total, s"bucket $b stream must be gap-free")
    }
  }

  private def round6(x: Double): Double = math.round(x * 1e6) / 1e6
}
