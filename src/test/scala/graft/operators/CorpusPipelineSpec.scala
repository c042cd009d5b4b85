package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class CorpusPipelineSpec extends SparkSpec {

  private lazy val docs = Tables.documents(spark, sfDir)

  test("stratified sample is deterministic and respects per-language rates") {
    val once = CorpusPipeline.corpusSample(spark, sfDir).collect()
    val again = CorpusPipeline.corpusSample(spark, sfDir).collect()
    assert(once.toSeq === again.toSeq) // reproducible
    val total = docs.count().toDouble
    val byLang = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = once.groupBy(_.getString(1)).view.mapValues(_.length).toMap
    // en keeps ~50%, others ~10-25%: loose bounds, the corpus is small
    assert(kept("en").toDouble / byLang("en") > 0.35)
    assert(kept("en").toDouble / byLang("en") < 0.65)
    assert(once.length < total) // something was dropped
    // every bucket is below the language threshold
    once.foreach { r =>
      val cap = r.getString(1) match { case "en" => 500; case "de" => 250; case _ => 100 }
      assert(r.getLong(2) < cap)
    }
  }

  test("sampleBucket equals the true product mod 1000 up to 2^63-1 ids") {
    import spark.implicits._
    // the naive id * 2654435761 overflows a Long for id > ~3.4e9 (a 100 TB
    // corpus is ~25e9 docs); the split-multiply must return the TRUE
    // product's residue everywhere, including right below Long.MaxValue
    val ids = Seq(0L, 1L, 999L, 1000L, 12345678L,
      3400000000L, 4294967295L, 4294967296L, // around the 2^32 split
      (1L << 62) - 1, 1L << 62, (1L << 62) + 987654321L, Long.MaxValue)
    val got = ids.toDF("id")
      .select(col("id"), CorpusPipeline.sampleBucket(col("id")).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    ids.foreach { id =>
      val want = ((BigInt(id) * BigInt(2654435761L)) mod BigInt(1000)).toLong
      assert(got(id) === want, s"id=$id")
    }
  }

  test("vocab_topk is a deterministic total order with exact counts") {
    val top = CorpusPipeline.vocabTopk(spark, sfDir).collect()
    // the synthetic corpus has a ~30-word vocabulary; k caps, not pads
    assert(top.length > 10 && top.length <= 100)
    val ns = top.map(_.getLong(1))
    assert(ns.toSeq === ns.sorted(Ordering[Long].reverse).toSeq)
    // spot-check one token count against a direct filter
    val t0 = top.head.getString(0)
    val direct = docs.select(explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
      .filter(col("tok") === t0).count()
    assert(direct === top.head.getLong(1))
  }

  test("decontaminate flags exactly the docs sharing an 8-gram with the benchmark") {
    import spark.implicits._
    val bench = Seq((1000L, "the secret benchmark passage lives here")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "completely unrelated words about join planning"),
      (2L, "a doc quoting the secret benchmark passage lives on"), // contaminated
      (3L, "short")).toDF("doc_id", "text")
    val flagged = CorpusPipeline.decontaminate(corpus, bench)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(flagged.keySet === Set(2L))
    assert(flagged(2L) > 0)
  }

  test("quality_filter keeps exactly the top-half-by-value per language") {
    val q = TextAnalysis.docQuality(docs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    // expected keep set recomputed naively: value v survives iff fewer than
    // half the language's docs score strictly above v
    val expected = q.groupBy(_._2).flatMap { case (_, rows) =>
      val tot = rows.length
      rows.toSeq.filter { case (_, _, v) => rows.count(_._3 > v) * 2 < tot }
    }.map(_._1).toSet
    val kept = CorpusPipeline.qualityFilter(docs).collect().map(_.getLong(0)).toSet
    assert(kept === expected)
    // value-threshold semantics: every kept quality >= every dropped quality
    // within a language, and the kept half is at least half the corpus
    q.groupBy(_._2).foreach { case (lang, rows) =>
      val (in, out) = rows.partition(r => kept(r._1))
      assert(in.nonEmpty)
      out.foreach(o => assert(in.forall(_._3 >= o._3), s"$lang kept < dropped"))
      if (out.nonEmpty) assert(in.length * 2 >= rows.length)
    }
  }

  test("pack_sequences matches the naive per-source running sum and is shard-invariant") {
    val out = CorpusPipeline.packSequences(docs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1)
    // naive single-pass recomputation from the same token counts
    val naive = out.groupBy(_._2).flatMap { case (_, rows) =>
      var cum = 0L
      rows.toSeq.sortBy(_._1).map { case (id, src, n, _, _) =>
        val prev = cum; cum += n
        (id, src, n, prev / 2048, prev % 2048)
      }
    }.toSeq.sortBy(_._1)
    assert(out.toSeq === naive)
    out.foreach { case (_, _, _, seqId, off) =>
      assert(off >= 0 && off < 2048 && seqId >= 0)
    }
    // the two-pass shard decomposition is invariant to the shard size
    val odd = CorpusPipeline.packSequences(docs, shardDocs = 7).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1)
    assert(odd.toSeq === out.toSeq)
  }

  test("domain_mix: binding source keeps everything, achieved shares track targets") {
    val out = CorpusPipeline.corpusDomainMix(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out.nonEmpty)
    val rates = out.map(r => r._2 -> r._4).toMap
    // at least one source is binding (keeps all 1000 buckets), none exceeds
    assert(rates.values.max === 1000L)
    assert(rates.values.forall(r => r > 0 && r <= 1000))
    // heavy sources (3x weight) must keep a higher rate than every light one
    val (heavy, light) = rates.partition { case (s, _) =>
      (0 to 4).map(i => s"src$i").contains(s)
    }
    assert(heavy.values.min > light.values.max)
    // every kept doc's bucket respects its source rate
    out.foreach { case (_, _, bucket, rate) => assert(bucket < rate) }
    // deterministic: same config, same corpus -> same kept set
    val again = CorpusPipeline.corpusDomainMix(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq === again.toSeq)
  }

  test("shuffleRank is a permutation matching the naive global ordering") {
    val out = CorpusPipeline.shuffleRank(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val n = out.length
    // a permutation of 0..n-1
    assert(out.map(_._2).sorted.toSeq === (0L until n).toSeq)
    // equals the naive one-window rank (what the sharding decomposes)
    val naive = docs.select(col("doc_id"))
      .withColumn("k", md5(col("doc_id").cast("string")))
      .orderBy(col("k"), col("doc_id")).collect()
      .map(_.getLong(0)).zipWithIndex.map { case (id, i) => id -> i.toLong }.toMap
    out.foreach { case (id, r) => assert(r === naive(id), s"doc $id") }
    // order is decoupled from id order: not the identity permutation
    assert(out.toMap.count { case (id, r) => id == r } < n / 10)
  }

  test("chunkDocuments: coverage, overlap, and reassembly invariants") {
    import spark.implicits._
    val text = ('a' to 'z').mkString * 20 // 520 chars
    val docs = Seq((1L, text), (2L, "short"), (3L, "")).toDF("doc_id", "text")
    val out = CorpusPipeline.chunkDocuments(docs, chunkChars = 256, overlap = 32)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq
      .sortBy(c => (c._1, c._2))
    // empty doc yields nothing; short doc yields itself
    assert(!out.exists(_._1 == 3L))
    assert(out.filter(_._1 == 2L).map(_._3) === Seq("short"))
    val chunks = out.filter(_._1 == 1L)
    // starts at k*224 while < 520 -> k = 0, 1, 2
    assert(chunks.length === 3)
    chunks.zipWithIndex.foreach { case ((_, idx, c), k) =>
      assert(idx === k)
      assert(c === text.substring(k * 224, math.min(k * 224 + 256, text.length)))
    }
    // consecutive chunks overlap by exactly 32 chars
    chunks.sliding(2).foreach { case Seq((_, _, a), (_, _, b)) =>
      assert(a.takeRight(32) === b.take(32))
    }
    // stripping each chunk's 32-char overlap prefix (except the first)
    // reassembles the original text exactly
    val reassembled = chunks.head._3 + chunks.tail.map(_._3.drop(32)).mkString
    assert(reassembled === text)
  }

  test("assembleCorpus: stage containment, quarter cut, packing consistency") {
    val out = CorpusPipeline.corpusAssemble(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.nonEmpty)
    val corpus = docs.filter(col("doc_id") % 97 =!= 0)
    // survivors are a subset of the quality-kept set; the relative
    // decontamination drops AT MOST a quarter (tie-conservative), mixing
    // then drops per-source buckets, and the binding sources keep
    // everything: well above zero
    val kept = CorpusPipeline.qualityFilter(corpus).collect().map(_.getLong(0)).toSet
    val survivors = out.map(_._1).toSet
    assert(survivors.subsetOf(kept))
    assert(survivors.size < kept.size) // this corpus has contamination spread
    assert(survivors.size > kept.size / 4)
    // packing is internally consistent: per source in doc_id order the
    // (seq_id, seq_offset) sequence equals the running token sum
    out.groupBy(_._2).foreach { case (_, rows) =>
      var cum = 0L
      rows.sortBy(_._1).foreach { case (_, _, n, seqId, off) =>
        assert(seqId === cum / 2048 && off === cum % 2048)
        cum += n
      }
    }
    // reproducible end to end
    val again = CorpusPipeline.corpusAssemble(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(again.toSeq === out.toSeq)
  }

  test("assembleCorpus keeps a uniformly clean corpus whole") {
    import spark.implicits._
    // no doc shares any 8-gram with the benchmark -> every cfrac is 0, one
    // giant tie bucket; the tie-conservative cut must keep EVERYTHING (a
    // strictly-above formulation silently dropped the entire corpus here)
    val clean = (1L to 40L)
      .map(i => (i, s"clean document number $i with plenty of ordinary words", "en", "src0"))
      .toDF("doc_id", "text", "lang", "source")
    val bench = Seq((1000L, "zzzz qqqq xxxx wwww completely disjoint benchmark"))
      .toDF("doc_id", "text")
    val kept = CorpusPipeline.qualityFilter(clean).collect().map(_.getLong(0)).toSet
    val out = CorpusPipeline.assembleCorpus(clean, bench, Map("src0" -> 1.0))
      .collect().map(_.getLong(0)).toSet
    // single source is binding (rate 1000): mixing drops nothing either,
    // so the assembled corpus is exactly the quality-kept set
    assert(out === kept)
    assert(out.nonEmpty)
  }

  test("assembleCorpus: every job it launches carries the caller's job group and tag") {
    import java.util.Properties
    import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
    import scala.concurrent.{ExecutionContext, Future}
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    // start every worker of the global pool now, outside any job group: a
    // worker created during the call would inherit the caller's properties
    // and hide their loss
    val workers = Runtime.getRuntime.availableProcessors
    val started = new CountDownLatch(workers)
    (1 to workers).foreach(_ => Future {
      started.countDown(); started.await(10, TimeUnit.SECONDS)
    }(ExecutionContext.global))
    started.await(10, TimeUnit.SECONDS)
    val jobs = new ConcurrentLinkedQueue[Properties]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(Option(e.properties).getOrElse(new Properties))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("assemble-group", "assembleCorpus under a job group")
      sc.addJobTag("assemble-tag")
      try CorpusPipeline.corpusAssemble(spark, sfDir).collect()
      finally { sc.clearJobGroup(); sc.removeJobTag("assemble-tag") }
      // one marker job: the listener sees it after every earlier job
      sc.setJobGroup("assemble-marker", "marker")
      try spark.range(1).collect() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      def group(p: Properties) = p.getProperty("spark.jobGroup.id")
      while (!jobs.asScala.exists(group(_) == "assemble-marker") && System.nanoTime() < deadline)
        Thread.sleep(20)
      val launched = jobs.asScala.toSeq.filterNot(group(_) == "assemble-marker")
      assert(launched.size > 2)
      launched.foreach { p =>
        assert(group(p) === "assemble-group")
        assert(Option(p.getProperty("spark.job.tags")).toSeq
          .flatMap(_.split(",")).contains("assemble-tag"))
      }
    } finally sc.removeSparkListener(listener)
  }

  test("unigramLogProb: repeated-common-token docs score above rare-token docs") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "the the the the"), // only the most common token
      (2L, "the and rare the"), // mixed
      (3L, "zzz qqq") // tokens appearing once in the corpus
    ).toDF("doc_id", "text")
    val out = CorpusPipeline.unigramLogProb(corpus).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out(1L)._1 === 4L)
    // "the" has corpus prob 6/10, singles 1/10: strictly ordered means
    assert(out(1L)._2 > out(2L)._2 && out(2L)._2 > out(3L)._2)
    // doc 1: avg ln(6/10); doc 3: avg ln(1/10)
    assert(math.abs(out(1L)._2 - math.round(math.log(0.6) * 10000.0) / 10000.0) < 1e-9)
    assert(math.abs(out(3L)._2 - math.round(math.log(0.1) * 10000.0) / 10000.0) < 1e-9)
  }

  test("domainResample: min-domain docs get exactly capCopies, rates flatten by sqrt") {
    import spark.implicits._
    // domains sized 2 / 8 / 32: rates r_pm = 3000*sqrt(2/n) = 3000 / 1500 / 750
    val corpus = ((0 until 2).map(i => (i.toLong, "a")) ++
      (100 until 108).map(i => (i.toLong, "b")) ++
      (200 until 232).map(i => (i.toLong, "c"))).toDF("doc_id", "source")
    val out = CorpusPipeline.domainResample(corpus, capCopies = 3.0)
    val copies = out.groupBy("source").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(copies("a") === 6L) // every min-domain doc exactly 3 times
    // per-doc seen-rate strictly decreases with domain size (temperature
    // flattening), while copy_idx stays 1-based and dense per doc
    val perDoc = Map("a" -> copies("a") / 2.0, "b" -> copies("b") / 8.0,
      "c" -> copies("c") / 32.0)
    assert(perDoc("a") > perDoc("b") && perDoc("b") > perDoc("c"))
    val byDoc = out.groupBy("doc_id").agg(max("copy_idx").as("m"), count(lit(1)).as("k"))
      .collect()
    byDoc.foreach(r => assert(r.getLong(1) === r.getLong(2))) // copy_idx dense 1..k
    assert(out.collect().map(_.toSeq).toSet ===
      CorpusPipeline.domainResample(corpus, 3.0).collect().map(_.toSeq).toSet)
  }

  test("corpusSplit is a deterministic partition consistent with its buckets") {
    val out = CorpusPipeline.corpusSplit(docs).collect()
    assert(out.length === docs.count()) // every doc in exactly one split
    out.foreach { r =>
      val (bucket, split) = (r.getLong(3), r.getString(4))
      val expect = if (bucket < 10) "test" else if (bucket < 20) "val" else "train"
      assert(split === expect, s"bucket $bucket labeled $split")
    }
    val bySplit = out.groupBy(_.getString(4)).view.mapValues(_.length).toMap
    assert(bySplit("train") > bySplit.getOrElse("val", 0))
    // all-train degenerate config
    val allTrain = CorpusPipeline.corpusSplit(docs, testPm = 0, valPm = 0)
      .select("split").distinct().collect().map(_.getString(0))
    assert(allTrain.toSeq === Seq("train"))
  }

  test("corpusStats partitions the corpus and its shares floor-sum to <= 1000") {
    val out = CorpusPipeline.corpusStats(docs).collect()
    assert(out.map(_.getLong(2)).sum === docs.count()) // every doc in one cell
    val shares = out.map(_.getLong(5))
    assert(shares.forall(s => s >= 0 && s <= 1000))
    assert(shares.sum <= 1000) // floor division never over-allocates
    assert(shares.sum > 900)   // and loses at most one per-mille per cell
  }

  test("bigramLogProb computes mean ln P(w2|w1); <2-token docs drop out") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "a b c"), // bigrams (a,b), (b,c)
      (2L, "a b d"), // bigrams (a,b), (b,d)
      (3L, "x")      // no bigrams
    ).toDF("doc_id", "text")
    val out = CorpusPipeline.bigramLogProb(corpus).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(!out.contains(3L))
    // counts: (a,b)=2, (b,c)=1, (b,d)=1; contexts: a=2, b=2
    // doc 1: (ln(2/2) + ln(1/2)) / 2 = ln(0.5)/2 = -0.34657... -> -0.3466
    val expected = math.round(math.log(0.5) / 2 * 10000.0) / 10000.0
    assert(out(1L) === ((2L, expected)))
    assert(out(2L) === ((2L, expected)))
  }

  test("splitLeakage catches a planted near-dup straddling the split boundary") {
    import spark.implicits._
    val t = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu"
    val corpus = Seq(
      (0L, t),                            // bucket 0  -> held out
      (1L, t + " tail"),                  // bucket >= 20 -> train, near-dup of 0
      (2L, "completely different words about entirely other topics here now"),
      (46L, "unique held-out doc with its own content and no train twin")
    ).toDF("doc_id", "text")              // 46 is also bucket < 20
    val pairs = CorpusPipeline.splitLeakage(corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.length === 1)
    assert(pairs.head._1 === 0L && pairs.head._2 === 1L) // held vs train
    assert(pairs.head._3 >= 0.7)
    // and the real corpus's audit only ever reports boundary-straddling pairs
    val real = CorpusPipeline.splitLeakage(Tables.documents(spark, sfDir)).collect()
    real.foreach { r =>
      def bucket(id: Long) = {
        val hi = id >>> 32; val lo = id & 0xFFFFFFFFL
        ((hi % 1000) * (761L * 296L) + (lo % 1000) * 761L) % 1000
      }
      assert(bucket(r.getLong(0)) < 20 && bucket(r.getLong(1)) >= 20)
    }
  }

  test("decontaminate plan broadcasts the benchmark side (no exploded-corpus shuffle)") {
    val docs97 = docs.filter(col("doc_id") % 97 =!= 0)
    val bench97 = docs.filter(col("doc_id") % 97 === 0)
    val plan = CorpusPipeline.decontaminate(docs97, bench97)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join in:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"SMJ would shuffle exploded corpus rows:\n$plan")
  }

  test("collocationsPmi: hand-computed pmi, minCount gates rare pairs, " +
      "marginal joins stay shuffle-hash") {
    import spark.implicits._
    // "tick tock" 5x in one doc, "tick tack" once, filler pairs distinct.
    // T = 12 bigrams total; c12(tick,tock)=5, c1(tick)=6, c2(tock)=5.
    val docs = Seq(
      (1L, "tick tock tick tock tick tock tick tock tick tock"), // 9 bigrams, 5x (tick,tock)
      (2L, "tick tack"),
      (3L, "red blue"),
      (4L, "green shoe")).toDF("doc_id", "text")
    val out = CorpusPipeline.collocationsPmi(docs, minCount = 5, k = 10).collect()
    assert(out.length === 1, "only (tick, tock) reaches minCount=5")
    val r = out.head
    assert((r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)) ===
      (("tick", "tock", 5L, 6L, 5L)))
    // doc1 yields 9 bigrams: (tick,tock) x5 and (tock,tick) x4; T = 12
    val expected = math.rint(math.log(5.0 * 12.0 / (6.0 * 5.0)) * 1e4) / 1e4
    assert(r.getDouble(5) === expected)
    // rare pairs below minCount never reach the marginal joins
    val all = CorpusPipeline.collocationsPmi(docs, minCount = 1, k = 100).collect()
    assert(all.length === 5, s"5 distinct pairs expected, got ${all.length}")
    val plan = CorpusPipeline.collocationsPmi(docs).queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin"), s"marginals must join shuffle-hash:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"no quadratic joins:\n$plan")
  }

  test("bpeMerges chains multi-char merges: a merged symbol wins a later step") {
    import spark.implicits._
    // "xyz" x10: pairs (x,y) and (y,z) tie at 10 -> (x,y) wins the lexico
    // tie-break; step 2 must then merge the MULTI-CHAR symbol (xy, z)
    val docs = (1L to 10L).map(i => (i, "xyz")).toDF("doc_id", "text")
    val m = CorpusPipeline.bpeMerges(docs, nMerges = 2).collect()
    assert(m.map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
      === Seq((1, "x", "y", 10L), (2, "xy", "z", 10L)))
  }

  test("bpeMerges merges left-to-right non-overlapping, like classic BPE") {
    import spark.implicits._
    // "aaaa": pairs (a,a) x3 per word; the merge must pair symbols 1-2 and
    // 3-4 (leftmost-greedy), NOT 2-3 -> next round sees exactly (aa, aa)
    val docs = (1L to 4L).map(i => (i, "aaaa")).toDF("doc_id", "text")
    val m = CorpusPipeline.bpeMerges(docs, nMerges = 2).collect()
    assert(m.map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
      === Seq((1, "a", "a", 12L), (2, "aa", "aa", 4L)))
  }

  test("bpeMerges ignores non-ascii words and is deterministic across runs") {
    import spark.implicits._
    val docs = Seq((1L, "foo bar foo Bar FOO café café café x"),
      (2L, "foo bar baz 123abc")).toDF("doc_id", "text")
    // café repeats most but is non-ascii after lowering -> must not win
    val m = CorpusPipeline.bpeMerges(docs, nMerges = 1).collect()
    assert(m.head.getString(1) != "caf" && !m.head.getString(2).contains("é"))
    val again = CorpusPipeline.bpeMerges(docs, nMerges = 1).collect()
    assert(m.map(_.toSeq).toSeq === again.map(_.toSeq).toSeq)
  }

  test("bpeEncode: token counts follow the merge table, word filter matches training") {
    import spark.implicits._
    val tiny = Seq((1L, "aa ab aa"), (2L, "xyz !punct"), (3L, "!! ??")).toDF("doc_id", "text")
    // no merges: every kept word tokenizes to its characters
    val plain = CorpusPipeline.bpeEncode(tiny, Nil).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(plain(1L) === ((3L, 6L))) // aa ab aa -> 2+2+2 chars
    assert(plain(2L) === ((1L, 3L))) // xyz kept, !punct filtered
    assert(plain(3L) === ((0L, 0L))) // nothing survives the word filter
    // one merge (a,a): each "aa" collapses to one token; "ab" untouched
    val merged = CorpusPipeline.bpeEncode(tiny, Seq(("a", "a"))).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(merged(1L) === 4L) // 1 + 2 + 1
    assert(merged(2L) === 3L)
    // chained multi-char merge: (a,a) then (aa,b) — "aab" -> one token
    val chained = CorpusPipeline.bpeEncode(
      Seq((1L, "aab")).toDF("doc_id", "text"), Seq(("a", "a"), ("aa", "b"))).collect()
    assert(chained.head.getLong(2) === 1L)
  }

  test("bpeMerges on the sf corpus: five deterministic merges, counts monotone " +
      "under the argmax order and vocab scan happens once (checkpointed)") {
    val m = CorpusPipeline.bpeMerges(docs, nMerges = 5).collect()
    assert(m.length === 5)
    assert(m.map(_.getInt(0)).toSeq === (1 to 5))
    // each step's count can only be <= the previous step's AT THE TIME of
    // its selection if no merge created a more frequent pair; merged pairs
    // only shrink existing pair counts here (no planted chains), so the
    // winning counts are non-increasing on this corpus
    val counts = m.map(_.getLong(3))
    assert(counts.zip(counts.tail).forall { case (a, b) => b <= a },
      s"expected non-increasing winner counts, got ${counts.mkString(",")}")
  }

  test("bpePairCounts plan: map-side-combined hash aggregate, no join, no " +
      "corpus FileScan once the word table is checkpointed") {
    import spark.implicits._
    val seg = docs
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
      .filter(col("w").rlike("^[a-z0-9]+$"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
      .select(regexp_replace(col("w"), "(.)", "\u0001$1\u0002").as("seg"), col("cnt"))
    val plan = CorpusPipeline.bpePairCounts(seg).queryExecution.executedPlan.toString
    // partial + final aggregate around the one pair-vocab-bounded exchange
    assert(plan.contains("partial_sum"), s"map-side partials expected:\n$plan")
    assert(!plan.contains("FileScan"),
      s"iteration job must run on the checkpointed word table, not the corpus:\n$plan")
    assert(!plan.contains("Join") && !plan.contains("CartesianProduct"),
      s"pair counting is a pure aggregate:\n$plan")
  }

  test("blocklistFilter: token-boundary matching, per-doc distinct-phrase " +
      "counts, clean docs dropped, scan-stage plan") {
    import spark.implicits._
    val d = Seq(
      (1L, "the bad phrase is here"),
      (2L, "embedded xbad phrase does not count"),
      (3L, "bad phrase twice other term bad phrase"),
      (4L, "completely clean row")).toDF("doc_id", "text")
    val out = CorpusPipeline.blocklistFilter(d, Seq("bad phrase", "other term"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // doc 2: 'xbad phrase' must NOT match on token boundaries
    // doc 3: two phrases present; repeats of one phrase count once
    assert(out === Map(1L -> 1, 3L -> 2))
    val plan = CorpusPipeline.blocklistFilter(d, Seq("bad phrase"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join"),
      s"blocklist filter must be scan-stage:\n$plan")
  }

  test("bpeFertility: per-lang totals sum the per-doc encode, fertility " +
      ">= 1 (a word is at least one token)") {
    val fert = CorpusPipeline.bpeFertility(spark, sfDir).collect()
    assert(fert.nonEmpty)
    fert.foreach { r =>
      assert(r.getLong(1) > 0 && r.getLong(2) >= r.getLong(1),
        s"tokens >= words per lang: $r")
      assert(r.getDouble(3) >= 1.0)
    }
    val enc = CorpusPipeline.bpeEncode(docs,
      CorpusPipeline.trainedMerges(spark, sfDir))
      .agg(sum(col("n_words")), sum(col("n_tokens"))).head()
    assert(fert.map(_.getLong(1)).sum === enc.getLong(0))
    assert(fert.map(_.getLong(2)).sum === enc.getLong(1))
  }

  test("blocklistFilter: the Aho-Corasick path returns exactly the " +
      "literal-array path's answer on a large phrase list") {
    val phrases = CorpusPipeline.topBigramPhrases(docs,
      CorpusPipeline.AhoCorasickThreshold + 8)
    assert(phrases.length > CorpusPipeline.AhoCorasickThreshold)
    // AC path (auto-selected above the threshold)
    val ac = CorpusPipeline.blocklistFilter(docs, phrases)
      .orderBy("doc_id").collect().map(r => r.getLong(0) -> r.getInt(1))
    // literal path, forced by splitting under the threshold and merging
    val naive = phrases.grouped(CorpusPipeline.AhoCorasickThreshold).toSeq
      .map(ps => CorpusPipeline.blocklistFilter(docs, ps)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap)
      .reduce { (a, b) =>
        (a.keySet ++ b.keySet).map(k =>
          k -> (a.getOrElse(k, 0) + b.getOrElse(k, 0))).toMap
      }
    assert(ac.toMap === naive)
    val plan = CorpusPipeline.blocklistFilter(docs, phrases)
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft_multi_contains_count"),
      s"large list must route through the automaton:\n$plan")
    assert(!plan.contains("Exchange") || plan.indexOf("Exchange") > plan.indexOf("FileScan"),
      s"still scan-stage:\n$plan")
  }

  test("decontaminateBloom: identical result to the broadcast decontaminate " +
      "(bloom invisible), and the bloom probe routes in the scan stage") {
    val corpus = docs.filter(col("doc_id") % 97 =!= 0)
    val bench = docs.filter(col("doc_id") % 97 === 0)
    val exact = CorpusPipeline.decontaminate(corpus, bench)
      .orderBy("doc_id").collect().map(r => r.getLong(0) -> r.getLong(1))
    val bloom = CorpusPipeline.decontaminateBloom(corpus, bench)
      .orderBy("doc_id").collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(exact.nonEmpty && bloom.toSeq === exact.toSeq)
    val plan = CorpusPipeline.decontaminateBloom(corpus, bench)
      .queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), s"bloom probe missing:\n$plan")
    // scan-stage routing: between the bloom-probe Filter and the corpus
    // FileScan it guards there must be NO Exchange — only bloom positives
    // ever shuffle
    val lines = plan.linesIterator.toVector
    val probeLine = lines.indexWhere(_.contains("might_contain"))
    assert(probeLine >= 0)
    val below = lines.drop(probeLine + 1)
    val scanAt = below.indexWhere(_.contains("FileScan"))
    assert(scanAt >= 0 && !below.take(scanAt).exists(_.contains("Exchange")),
      s"exchange between bloom probe and its scan:\n$plan")
  }

  test("snapshotDiff classifies added/removed/changed and drops unchanged") {
    import spark.implicits._
    val old = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "text")
    val cur = Seq((2L, "b"), (3L, "c2"), (4L, "d")).toDF("doc_id", "text")
    val got = CorpusPipeline.snapshotDiff(old, cur).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(1L -> "removed", 3L -> "changed", 4L -> "added"))
  }

  test("snapshot_diff query hits all three statuses and never ships text " +
      "through the join") {
    val out = CorpusPipeline.snapshotDiffQuery(spark, sfDir)
    val statuses = out.collect().map(_.getString(1)).toSet
    assert(statuses === Set("added", "removed", "changed"))
    // only (doc_id, hash) columns may cross the exchange — the full text
    // column must be consumed at its scan stage (md5 before the shuffle)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin") ||
      !plan.linesIterator.exists(l => l.contains("Exchange") && l.contains("text")),
      s"text column must not shuffle:\n$plan")
  }

  test("qualityWeightedSample: keep decision is the published bucket rule, " +
      "deterministic, keep rate tracks mean quality, zero shuffle") {
    val docs = Tables.documents(spark, sfDir)
    val sampled = CorpusPipeline.qualityWeightedSample(docs)
    val got = sampled.collect()
    got.foreach { r =>
      assert(r.getLong(2) < math.floor(r.getDouble(1) * 1000).toLong, s"row $r")
    }
    // replayable: a second run keeps the identical set
    assert(CorpusPipeline.qualityWeightedSample(docs).collect()
      .map(_.getLong(0)).toSet === got.map(_.getLong(0)).toSet)
    // expected keep rate = mean quality; 500 Bernoulli-like draws
    val meanQ = graft.operators.TextAnalysis.docQuality(docs)
      .agg(avg(col("quality"))).head().getDouble(0)
    val rate = got.length.toDouble / docs.count()
    assert(math.abs(rate - meanQ) < 0.08, s"rate $rate vs mean quality $meanQ")
    assert(!sampled.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("budgetSelect equals the global-sort reference at several budgets, " +
      "without a corpus-wide sort in the plan") {
    val docs = Tables.documents(spark, sfDir)
    val scored = docs.select(col("doc_id"),
      length(col("text")).cast("long").as("n_chars"),
      graft.functions.TextSignals.signals(col("text")).as("sig"))
      .select(col("doc_id"),
        col("sig.ws_tokens").cast("long").as("n_tokens"),
        coalesce(graft.operators.TextAnalysis.signalQuality(col("sig"), col("n_chars")),
          lit(0.0)).as("quality"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("quality").desc, col("doc_id")).rowsBetween(Long.MinValue, -1)
    Seq(500L, 10000L, Long.MaxValue / 4).foreach { b =>
      val ref = scored
        .withColumn("cb", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
        .filter(col("cb") < b).select("doc_id").collect().map(_.getLong(0)).toSet
      val got = CorpusPipeline.budgetSelect(docs, b).collect().map(_.getLong(0)).toSet
      assert(got === ref, s"budget $b")
    }
    // the operator's plan sorts only the output order and the single
    // boundary bin — the reference's corpus-wide (quality, id) sort is
    // exactly what it exists to avoid, so a global Sort over quality desc
    // must not appear
    val plan = CorpusPipeline.budgetSelect(docs, 10000L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("quality DESC"), plan.take(1500))
  }

  test("dsirSelect keeps the docs whose token distribution matches the target slice") {
    import spark.implicits._
    // ids 0-4 share the target-slice vocabulary; ids 5-9 are per-doc token
    // salad (every bucket count 1 in raw, 0 in target), so the importance
    // ratio must rank all five target-like docs above all five others
    val docs = ((0L until 5L).map(i => (i, s"the cat sat on the mat $i")) ++
      (5L until 10L).map(i => (i, s"zz$i qq$i ww$i vv$i kk$i"))).toDF("doc_id", "text")
    val out = CorpusPipeline.dsirSelect(docs, col("doc_id") < 5, selectFraction = 0.4)
      .collect()
    assert(out.length === 4) // floor(10 * 0.4)
    assert(out.map(_.getLong(0)).toSet.subsetOf((0L until 5L).toSet))
    // ranks are 1..k over (weight desc, doc_id) and weights are 4-dp
    assert(out.map(_.getInt(2)).sorted.toSeq === (1 to 4))
  }
}
