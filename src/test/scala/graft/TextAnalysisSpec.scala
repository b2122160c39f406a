package graft

import graft.operators.TextAnalysis
import org.apache.spark.sql.functions.avg

/** Decontamination semantics on a handcrafted fixture. */
class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("bigram LM: fluent in-domain text scores lower NLL than shuffled gibberish") {
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val model = TextAnalysis.lmTrain(docs).cache()
    // three tiers present: bigrams, per-context unseen penalty, global
    assert(model.filter($"w2h".isNotNull).count() > 0)
    assert(model.filter($"w2h".isNull && $"w1h".isNotNull).count() > 0)
    assert(model.filter($"w1h".isNull).count() == 1L)
    // persist/read-back scores identically (the driver lifecycle)
    val dest = tempDir("lm").toString + "/m"
    model.write.parquet(dest)
    val persisted = spark.read.parquet(dest)
    // a real fixture doc vs the same words in a hash-scrambled order:
    // the LM must prefer the order it was trained on
    val sample = docs.orderBy("doc_id").limit(1)
      .select($"text").as[String].head()
    val words = sample.split(" ")
    val scrambled = words.sortBy(w => w.hashCode).mkString(" ")
    val probe = Seq((1L, sample), (2L, scrambled)).toDF("doc_id", "text")
    val nll = TextAnalysis.lmScore(probe, persisted)
      .select($"doc_id", $"avg_nll").as[(Long, Double)].collect().toMap
    assert(nll(1L) < nll(2L),
      s"fluent ${nll(1L)} must beat scrambled ${nll(2L)}")
    // determinism across two runs (decimal sums, no double accumulation)
    val a = TextAnalysis.lmScore(docs, persisted).collect()
    val b = TextAnalysis.lmScore(docs, persisted).collect()
    assert(a.sameElements(b))
  }

  test("bigram LM conditionals normalize: sum of P(.|w1) over the vocab is 1") {
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val model = TextAnalysis.lmTrain(docs).cache()
    val v = model.filter($"w2h".isNull && $"w1h".isNotNull).count()
    // for each context: observed-successor mass + (V - observed) copies of
    // the unseen-successor penalty must total 1 (6dp train-time rounding
    // of logp leaves only tiny drift)
    val byCtx = model.filter($"w1h".isNotNull)
      .groupBy("w1h")
      .agg(
        org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.when($"w2h".isNotNull,
            org.apache.spark.sql.functions.exp($"logp")).otherwise(0d)).as("obs"),
        org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.when($"w2h".isNull,
            org.apache.spark.sql.functions.exp($"logp")).otherwise(0d)).as("unseen1"),
        org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.when($"w2h".isNotNull, 1L).otherwise(0L)).as("nObs"))
      .select($"obs" + ($"unseen1" *
        (org.apache.spark.sql.functions.lit(v.toDouble) - $"nObs")))
    val sums = byCtx.as[Double].collect()
    assert(sums.nonEmpty && sums.forall(s => math.abs(s - 1.0d) < 1e-3),
      s"P(.|w1) must sum to 1; worst drift ${sums.map(s => math.abs(s - 1)).max}")
  }

  test("quality model: learned log-odds separate the weak-label classes") {
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val model = TextAnalysis.trainQualityModel(docs).cache()
    assert(model.count() <= 1024 && model.count() > 0)
    // persist/read-back round trip scores identically (what the driver does)
    val dest = tempDir("nbq").toString + "/m"
    model.write.parquet(dest)
    val persisted = spark.read.parquet(dest)
    val a = TextAnalysis.scoreQualityModel(docs, model).collect()
    val b = TextAnalysis.scoreQualityModel(docs, persisted).collect()
    assert(a.sameElements(b))
    // the classifier must have learned the weak-label signal: mean score
    // of positive-label docs > mean score of negative-label docs
    val labels = TextAnalysis.qualityStats(docs)
      .select($"doc_id", ($"quality_score" >= 0.2).as("pos"))
    val sep = TextAnalysis.scoreQualityModel(docs, model)
      .join(labels, Seq("doc_id"))
      .groupBy("pos").agg(avg("nb_score").as("m"))
      .as[(Boolean, Double)].collect().toMap
    assert(sep(true) > sep(false),
      s"positive mean ${sep(true)} must exceed negative mean ${sep(false)}")
  }

  test("duplicate spans: cross-doc repeats found, intra-doc repeats counted, native = lambda") {
    val phrase = "one two three four five six seven eight"
    val corpus = Seq(
      (1L, s"alpha beta $phrase gamma delta"),        // carries the phrase
      (2L, s"$phrase zeta eta theta iota kappa"),     // carries it too
      (3L, "nothing in common with anything here at all ok"),
      (4L, s"x $phrase y $phrase z"))                 // carries it TWICE
      .toDF("doc_id", "text")
    val spans = TextAnalysis.duplicateSpans(corpus, w = 8, minDocs = 2, k = 50)
      .as[(Long, Long, Long)].collect()
    // the planted 8-token phrase is a span seen in docs 1, 2 and 4 — with
    // 4 occurrences total (doc 4 repeats it)
    assert(spans.exists { case (_, nd, nh) => nd == 3L && nh == 4L },
      s"planted phrase not found: ${spans.mkString(",")}")
    val exposure = TextAnalysis.spanDupExposure(corpus, w = 8, minDocs = 2)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(exposure.contains(1L) && exposure.contains(2L) && exposure.contains(4L))
    assert(!exposure.contains(3L), "doc 3 shares no span")
    // APPLY: doc 1 owns the phrase (lowest id) — its spans are never
    // foreign, so it survives any threshold; doc 3 has coverage 0; docs
    // 2 and 4 carry foreign-owned spans and drop at a tight threshold
    val keptTight = TextAnalysis.spanDedupApply(
        corpus, w = 8, minDocs = 2, maxDupCoverage = 0.0)
      .select("doc_id").as[Long].collect().toSet
    assert(keptTight == Set(1L, 3L),
      s"threshold 0: only owner + unique docs survive, got $keptTight")
    // a loose threshold keeps everything (coverage < 1 for all docs here)
    val keptLoose = TextAnalysis.spanDedupApply(
        corpus, w = 8, minDocs = 2, maxDupCoverage = 0.99)
      .select("doc_id").as[Long].collect().toSet
    assert(keptLoose == Set(1L, 2L, 3L, 4L), s"loose keeps all, got $keptLoose")
    // the native kernel equals the declarative lambda formulation
    import org.apache.spark.sql.functions._
    val native = corpus.select($"doc_id",
      graft.plans.TextExpressions.spanHashes60(
        graft.functions.TextOps.words($"text"), 8).as("s"))
      .as[(Long, Seq[Long])].collect().toMap
    val lambda = corpus
      .withColumn("w", graft.functions.TextOps.words($"text"))
      .select($"doc_id", transform(
        sequence(lit(0), greatest(size($"w") - 8, lit(-1))),
        i => graft.functions.TextOps.hash60(
          concat_ws(" ", slice($"w", i + lit(1), lit(8))))).as("s"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(native == lambda)
  }

  test("decontamination flags docs sharing n-grams with the eval set only") {
    val eval = Seq((1L, "the quick brown fox jumps over the dog"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (100L, "something totally different is written here"),
      (101L, "he said the quick brown fox jumps high"),
      (102L, "the quick brown fox jumps over the dog")) // full overlap
      .toDF("doc_id", "text")
    val flagged = TextAnalysis.decontaminate(corpus, eval, n = 3)
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(!flagged.contains(100L))
    assert(flagged.contains(101L) && flagged(101L)._2 == 1L)
    assert(flagged(102L)._1 > flagged(101L)._1, "full overlap shares more shingles")
  }

  test("sequence packing: conserves docs/tokens, contiguous packs, bounded start offsets") {
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val packs = TextAnalysis.packSequences(docs, budgetTokens = 500, nShards = 8)
      .as[(Long, Long, Long, Long)].collect()
    val totalDocs = docs.count()
    assert(packs.map(_._3).sum == totalDocs, "docs conserved")
    // pack_no contiguous from 0 within each shard
    packs.groupBy(_._1).foreach { case (_, g) =>
      assert(g.map(_._2).sorted.toSeq == (0L until g.length))
    }
    // greedy contract: every pack except a shard's last must reach the
    // budget with its final doc (total >= budget boundary crossing)
    packs.groupBy(_._1).foreach { case (_, g) =>
      val sorted = g.sortBy(_._2)
      sorted.dropRight(1).foreach { p =>
        assert(p._4 >= 1, "non-terminal empty pack")
      }
    }
  }

  test("repetition filter: handcrafted fractions and keep decisions") {
    val docs = Seq(
      // "spam spam spam spam": one word covers 100% of chars -> dropped
      (1L, "spam spam spam spam"),
      // all-distinct words, no repeated grams -> kept
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      // repeated bigram "go stop": 3x2 occurrences of 6 content chars
      (3L, "go stop go stop go stop word tail ends the line here now"))
      .toDF("doc_id", "text")
    val r = TextAnalysis.repetitionStats(docs)
      .as[(Long, Long, Double, Double, Double, Double, Int)]
      .collect().map(x => x._1 -> x).toMap
    // doc 1: 16 chars, top word 4*4=16 -> frac 1.0, dropped
    assert(r(1L)._2 == 16L && r(1L)._3 == 1.0 && r(1L)._7 == 0)
    // doc 2: nothing repeats -> dup fraction 0, kept
    assert(r(2L)._4 == 0.0 && r(2L)._7 == 1)
    // doc 3: "go stop" occurs 3x, content 6 chars; total chars =
    // 2+4+2+4+2+4+4+4+4+3+4+4+3 = 44 -> bigram frac 18/44
    assert(math.abs(r(3L)._5 - math.rint(18.0 / 44 * 1e6) / 1e6) < 1e-9,
      s"bigram frac ${r(3L)._5}")
    // and the whole pass is shuffle-free except the presentation sort:
    // exactly ONE Exchange, and it is the final ORDER BY's range partition
    val plan = TextAnalysis.repetitionStats(docs).queryExecution
      .executedPlan.toString
    val exchanges = plan.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.length == 1 &&
      exchanges.head.contains("rangepartitioning"),
      s"repetition stats shuffled beyond the output sort:\n$plan")
  }

  test("minShared raises the flagging bar") {
    val eval = Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val corpus = Seq((200L, "alpha beta gamma unrelated tail")).toDF("doc_id", "text")
    assert(TextAnalysis.decontaminate(corpus, eval, n = 3, minShared = 1).count() == 1)
    assert(TextAnalysis.decontaminate(corpus, eval, n = 3, minShared = 2).count() == 0)
  }

  test("chunkDocuments: full coverage, fixed overlap, tail clamps") {
    val docs = Seq((1L, (1 to 10).map(i => s"w$i").mkString(" ")),
      (2L, "a b")).toDF("doc_id", "text")
    val got = TextAnalysis.chunkDocuments(docs, chunkSize = 4, stride = 3)
      .as[(Long, Long, String, Long)].collect().toSeq
    val d1 = got.filter(_._1 == 1L)
    // starts 0,3,6,9: windows of 4 words, overlap 1, tail clamped
    assert(d1.map(_._3) == Seq("w1 w2 w3 w4", "w4 w5 w6 w7",
      "w7 w8 w9 w10", "w10"))
    assert(d1.map(_._4) == Seq(4L, 4L, 4L, 1L))
    assert(d1.map(_._2) == Seq(0L, 1L, 2L, 3L))
    // every word of the doc appears in some chunk (full coverage)
    val covered = d1.flatMap(_._3.split(" ")).toSet
    assert(covered == (1 to 10).map(i => s"w$i").toSet)
    // short doc: one chunk, whole text
    assert(got.filter(_._1 == 2L) == Seq((2L, 0L, "a b", 2L)))
  }

  test("clusterTopics: doc-frequency top terms per cluster, rank-dense, tie on term") {
    val docs = Seq(
      (0L, 1L, "apple banana apple"), // apple counts once per doc
      (1L, 1L, "apple cherry"),
      (2L, 2L, "dog dog cat"),
      (3L, 2L, "cat emu"))
      .toDF("doc_id", "cid", "text")
    val got = TextAnalysis.clusterTopics(docs, perCluster = 2)
      .as[(Long, Long, String, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 1L, "apple", 2L), (1L, 2L, "banana", 1L),
      (2L, 1L, "cat", 2L), (2L, 2L, "dog", 1L)))
  }

  test("zipf fit: near -1 on zipfian text, flat on uniform text") {
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(7)
    val vocab = (0 until 200).map(i => s"w$i")
    // zipfian corpus: word i drawn with p ~ 1/(i+1)
    val weights = vocab.indices.map(i => 1.0 / (i + 1))
    val cum = weights.scanLeft(0.0)(_ + _).tail
    val total = cum.last
    def drawZipf(): String = {
      val u = rnd.nextDouble() * total
      vocab(cum.indexWhere(_ >= u))
    }
    val zipfDocs = (0L until 200L).map(i =>
      (i, Seq.fill(50)(drawZipf()).mkString(" "))).toDF("doc_id", "text")
    val uniDocs = (0L until 200L).map(i =>
      (i, Seq.fill(50)(vocab(rnd.nextInt(200))).mkString(" "))).toDF("doc_id", "text")
    val zs = TextAnalysis.zipfFit(zipfDocs).select("slope").as[Double].head()
    val us = TextAnalysis.zipfFit(uniDocs).select("slope").as[Double].head()
    assert(zs < -0.6, s"zipfian corpus slope $zs should be steep")
    assert(us > -0.3, s"uniform corpus slope $us should be flat")
    assert(zs < us)
  }
}
