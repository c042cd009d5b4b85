package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * SF-scaling assertion harness: the closest local[32] proxy for the
 * "would this survive 100×?" question. Each data-bound entry runs at two
 * scale factors in one JVM; its wall-time growth across the 10× data step
 * must stay within `SlackFactor` × the data ratio. A quadratic operator
 * (all-pairs join, broadcast-corpus self-join) shows up as ~100× growth on
 * a 10× step and fails loudly; a bucketed/LSH/linear operator rides well
 * under the bound because Spark's fixed job floor dominates the small SF.
 *
 * This generalizes the per-operator two-SF candidate-volume suites
 * (dedup_simhash, embeddingNearDups) from candidate COUNTS to measured
 * WALL TIME over the whole entry — counts catch a blowup in one join's
 * output, wall time catches any stage going super-linear.
 *
 * Run: `SPARK_GRAFT_SCALE_SMALL=/root/testdata/sf0.01
 *       SPARK_GRAFT_SCALE_BIG=/root/testdata/sf0.1 sbt "runMain graft.ScaleCheck"`
 * Optional lanes: SPARK_GRAFT_SCALE_BIG2 (second decade, a ScaleData sf1),
 * SPARK_GRAFT_SCALE_BIG3 (third growth step, a factor-5 sf5 — requires BIG2;
 * generate it with SPARK_GRAFT_SCALE_CIPHER=perm, see ScaleData.permuted),
 * SPARK_GRAFT_SCALE_SKEW/_SKEW_BASE (hot-bucket tax vs a uniform twin).
 * Writes `SCALING.json` (per-key small/big/ratio/bound) and exits non-zero
 * on any violation.
 */
object ScaleCheck {

  /** The data-bound entries (the ones that dominate at 100 TB) mapped to
    * their scaling input table — the tables grow at DIFFERENT rates across
    * SFs (documents 10x from sf0.01 to sf0.1, embeddings 4x), so each key's
    * growth bound comes from its own input's ratio. Every multi-second
    * non-streaming key from the bench board is here, i.e. exactly the set
    * where a super-linear stage would matter. Streaming entries are
    * excluded — their wall time tracks micro-batch admission, which the
    * streaming suites pin separately. */
  val DataBoundEntries: Seq[(String, String)] = Seq(
    "dedup_minhash" -> "documents", "dedup_minhash_keep" -> "documents",
    "ngram_jaccard" -> "documents", "dedup_simhash" -> "documents",
    "semantic_dedup" -> "embeddings", "text_lsh_clusters" -> "documents",
    "corpus_clean" -> "documents", "duplicate_passages" -> "documents",
    "winnow_fingerprint" -> "documents", "embed_neardup" -> "embeddings",
    "hybrid_search" -> "documents", "ngram_containment" -> "documents",
    "dedup_minhash_best" -> "documents", "heavy_hitters" -> "documents",
    "graph_pagerank" -> "embeddings", "hard_negatives_probe" -> "embeddings",
    "q31_reachability" -> "embeddings",
    "bm25_search" -> "documents", "spell_correct" -> "documents",
    "segment_dedup" -> "documents", "text_bigram_logprob" -> "documents",
    "dsir_select" -> "documents", "corpus_assemble" -> "documents",
    "knn_graph_probe" -> "embeddings", "dedup_bloom" -> "documents",
    "snapshot_diff" -> "documents", "gram_coverage" -> "documents",
    "ann_ivfpq_indexed" -> "embeddings")

  /** Wall-time growth bound: data ratio × slack. Slack 1.5 per the round
    * guidance — generous enough for the job-floor noise on the small SF,
    * far below the ~10× extra a quadratic stage costs on a 10× step. */
  val SlackFactor: Double = 1.5

  /** Expected-work multiplier for the keys whose DOCUMENTED recall
    * escalation steps between the two dirs (round 16): multi-probe LSH
    * engages flips only above the bits floor, and the √-law nprobe grows
    * with K, so crossing an engagement boundary multiplies per-row work by
    * a KNOWN factor — (1+flips) for the probe side, nprobe ratio for IVF —
    * that a pure data-ratio bound would misread as super-linear growth
    * (measured 14.7× on a 10× step at sf1 for embed_neardup: 10× data ×
    * the flips 0→3 step's 4× candidates, each linear). The bound becomes
    * dataRatio × escalation × slack — it measures growth BEYOND the
    * documented escalation, which is the plan-quality question; a genuine
    * quadratic (~100× on the step) still blows far past it. Both factors
    * come from the SAME formulas the operators (and their oracles) use. */
  val EscalationKeys: Set[String] =
    Set("embed_neardup", "semantic_dedup", "knn_graph_probe",
      "hard_negatives_probe", "ann_ivfpq_indexed")
  def escalationFactor(key: String, nSmall: Long, nBig: Long): Double = {
    import graft.operators.Similarity._
    key match {
      case "embed_neardup" | "semantic_dedup" =>
        // expected candidate work per vector: tables × probes × the
        // ABOVE-TARGET part of the realized bucket occupancy (N/2^bits
        // sawtooths up to ~1.5× the 128 target between width steps — at
        // sf10 it sits at 195, real extra kernel work the probe factor
        // alone understates; below the target the floor-regime occupancy
        // is already priced into the data ratio, so it clamps to 1 and
        // the historical small-SF bounds are unchanged)
        def f(n: Long) = {
          val bits = adaptiveLshBits(n, 4)
          adaptiveLshTables(bits, 4).toDouble *
            (1 + adaptiveProbeFlips(bits, 4)) *
            math.max(1.0, n.toDouble / (1L << bits) / TargetBucketOccupancy)
        }
        f(nBig) / f(nSmall)
      case "knn_graph_probe" | "hard_negatives_probe" | "ann_ivfpq_indexed" =>
        // ann_ivfpq_indexed probes through the SAME adaptive √-law
        // formulas (fixed 5-query probe set, so per-QUERY cell growth is
        // the whole escalation; the √N shortlist is sublinear and rides
        // inside the data-ratio slack)
        // both prune through the identical nprobe escalation (the knnGraph
        // cell machinery; hard_negatives_probe adds a label filter).
        // EscalationKeys' contract — factors come from the SAME formulas
        // the operators use — is why the EXHAUSTIVE hard_negatives entry
        // is NOT here (ADVICE r17): it hardcodes nprobe = numCentroids
        // = 16 and never calls these formulas, so it sits out the growth
        // lanes entirely with the same exhaustive-by-oracle-contract
        // reason as graph_pagerank's third-decade exclusion, and THIS
        // probe sibling carries the lane coverage instead
        def np(n: Long) = adaptiveNprobe(adaptiveCentroids(n))
        np(nBig).toDouble / np(nSmall)
      case _ => 1.0
    }
  }

  /** The partition-gated gram-family entries (round-14: their pre-kernel
    * spread now applies only to narrow inputs — [[graft.util.Spread]]), so
    * their growth bound rests on TWO ratios, not one: a derived mid-SF
    * (deterministic 30% sample of the big dir's documents) splits the 10×
    * step into small→mid and mid→big. A super-linear stage hiding inside
    * one wide step shows up in at least one of the two sub-steps. */
  val ThirdPointKeys: Seq[(String, String)] = Seq(
    "ngram_jaccard_inverted" -> "documents", "gram_coverage" -> "documents",
    "segment_dedup" -> "documents", "ngram_containment" -> "documents",
    "duplicate_passages" -> "documents")

  /** The non-streaming keys with a size-adaptive fast path. Every bench
    * corpus sits under the fast-path ceilings, so the DEFAULT lane's
    * growth bounds above measure the fused/driver kernels — but at 100 TB
    * the distributed siblings run. This lane re-checks the same keys with
    * [[graft.util.FastPaths]] forced to report ineligible, so the plans
    * the scale story actually rests on carry their own measured growth
    * bound (the two-lane bench side-board gives them a wall-time number;
    * this gives them a growth RATIO). `dedup_incremental_stream` is the
    * one fast-path key excluded — streaming wall time tracks micro-batch
    * admission, which the streaming suites pin separately. */
  val ForcedDistributedKeys: Seq[(String, String)] = Seq(
    "dedup_minhash_keep" -> "documents", "ngram_jaccard" -> "documents",
    "semantic_dedup" -> "embeddings", "text_lsh_clusters" -> "documents",
    "graph_pagerank" -> "embeddings", "hard_negatives_probe" -> "embeddings",
    "embed_neardup" -> "embeddings", "q31_reachability" -> "embeddings",
    "knn_graph_probe" -> "embeddings")

  /** The dedup/LSH band-join family — the keys whose shuffle keys are LSH
    * buckets, band signatures or near-dup components, i.e. exactly where a
    * skewed corpus (hot boilerplate cluster, hot domain, collapsed
    * embedding direction — [[ScaleData.skewDocuments]]/[[ScaleData.skewEmbeddings]])
    * concentrates quadratic pair mass into a few shuffle partitions. The
    * skew lane times these on the skewed variant AGAINST AN EQUALLY-SIZED
    * UNIFORM variant — the "skew tax" — bounded by [[SkewTaxBound]]. A
    * size-ratio bound would be the wrong ruler here: the lane holds data
    * size CONSTANT and varies only the distribution, so the uniform twin
    * is the control and the tax isolates hot-bucket behavior from growth.
    * The planted cluster's pair mass is REAL work (every hot pair is a
    * true near-dup an exact operator would also emit), so the bound is
    * above 1; a band join that stalls a hot bucket into one task blows
    * far past it (measured 7.9× pre-fix for embed_neardup, 1.0× after
    * the pair-spread fix). */
  val SkewTaxBound: Double = 3.0
  val SkewKeys: Seq[(String, String)] = Seq(
    "dedup_minhash" -> "documents", "dedup_minhash_keep" -> "documents",
    "ngram_jaccard" -> "documents", "dedup_simhash" -> "documents",
    "text_lsh_clusters" -> "documents", "duplicate_passages" -> "documents",
    "embed_neardup" -> "embeddings", "semantic_dedup" -> "embeddings",
    "heavy_hitters" -> "documents")

  /** The join/streaming families whose reason to exist IS skew (round 17,
    * verdict item #3): a hot customer key holding ~20% of the fact side
    * ([[ScaleData.scaleOrders]] hotPct=20 — equi-join output is linear in
    * the hot mass, so the share can be realistic-large) and a hot user
    * holding 10‰ of the event stream ([[ScaleData.skewEvents]] — the
    * share is pair-mass-budgeted: the range/attribution operators emit
    * QUADRATICALLY many hot pairs, and at 10‰ the planted mass stays
    * inside [[SkewTaxBound]] for a plan that spreads it while a plan that
    * funnels the hot key onto one task still blows the bound). Streaming
    * keys time micro-batch admission over the same admitted data on both
    * dirs, so the uniform twin remains the control. */
  val SkewJoinStreamKeys: Seq[(String, String)] = Seq(
    "skew_join_salted" -> "orders", "asof_join_events" -> "events",
    "range_join_events" -> "events", "sessionize_stream" -> "events",
    "purchase_attribution_stream" -> "events")

  /** Materialize the derived mid-SF dir if absent: documents sampled
    * deterministically (doc_id % 10 < 3) from `big` — row counts are
    * re-measured by [[dataRatio]], so the bounds self-calibrate to the
    * actual sampled sizes. Only the documents table is written; the
    * third-point keys read nothing else. */
  def ensureMidDir(spark: SparkSession, big: String, mid: String): Unit = {
    val f = java.nio.file.Paths.get(mid, "documents.parquet")
    if (!java.nio.file.Files.exists(f)) {
      spark.read.parquet(s"$big/documents.parquet")
        .filter(org.apache.spark.sql.functions.col("doc_id") % 10 < 3)
        .write.mode("overwrite").parquet(f.toString)
    }
  }

  /** Measured min-of-`iters` wall time of one entry against one SF dir.
    * Shared by the main and the suite. */
  def time(spark: SparkSession, key: String, dir: String, iters: Int = 2): Double = {
    val fn = SparkEntry.queries(key)
    def once(): Double = {
      val t0 = System.nanoTime()
      fn(spark, dir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    (0 until iters).map(_ => once()).min
  }

  /** Row counts of one input table at two SF dirs. */
  def dataCounts(spark: SparkSession, table: String, small: String, big: String): (Long, Long) =
    (spark.read.parquet(s"$small/$table.parquet").count(),
      spark.read.parquet(s"$big/$table.parquet").count())

  /** LIVE row counts — the same liveness filter the operators apply before
    * deriving their adaptive parameters (a NULL embedding/text is an absent
    * row). [[escalationFactor]] must see these, not raw parquet counts: at
    * an SF straddling an engagement boundary (a flips step, an nprobe
    * step) a dead-row gap between the two censuses would make the bound
    * assume a different escalation than the operator actually took
    * (ADVICE r16). The growth bound's DATA ratio stays raw — data size is
    * what the scan pays for. */
  def liveDataCounts(spark: SparkSession, table: String, small: String, big: String): (Long, Long) = {
    import org.apache.spark.sql.functions.col
    val pred = table match {
      case "embeddings" => col("embedding").isNotNull
      case "documents" => col("text").isNotNull
      case _ => org.apache.spark.sql.functions.lit(true)
    }
    (spark.read.parquet(s"$small/$table.parquet").filter(pred).count(),
      spark.read.parquet(s"$big/$table.parquet").filter(pred).count())
  }

  /** Row-count ratio of one input table between two SF dirs. */
  def dataRatio(spark: SparkSession, table: String, small: String, big: String): Double = {
    val (s, b) = dataCounts(spark, table, small, big)
    b.toDouble / s
  }

  final case class Result(key: String, tSmall: Double, tBig: Double,
      ratio: Double, bound: Double, diagnosis: Option[String] = None) {
    def ok: Boolean = ratio <= bound
  }

  /** The growth-lane keys whose DEFAULT plan flips at the broadcast
    * probe-index byte ceiling ([[graft.operators.Dedup.probeIndexEstBytes]]
    * vs the 256 MB [[graft.operators.Dedup.DefaultProbeIndexMaxBytes]]):
    * under it the corpus dedups through one fused broadcast-index stage,
    * above it through the banded equi-join. Both plans are linear, but a
    * growth step whose SMALL side is under the ceiling and BIG side above
    * it measures the PLAN CHANGE, not growth (round 17: the sf1→sf5 step
    * straddled the flip — census 159 MB vs 796 MB — and the default lane
    * read 8.5×/11.2× "growth" whose like-plan truth was 1.55×/4.95×). For
    * these keys [[check]] probes the census on both dirs; when the step
    * straddles the ceiling it times BOTH sides on the distributed plan
    * (the one the 100 TB story rests on — the forced lane already covers
    * it at every decade) and stamps the row with a machine-readable
    * `diagnosis`, so the committed artifact explains itself instead of
    * shipping a red row with a prose footnote. */
  val ProbeIndexFlipKeys: Set[String] =
    Set("dedup_minhash", "dedup_minhash_keep", "dedup_minhash_best", "ngram_jaccard")

  /** Whether the probe-index fast path is eligible (census under the byte
    * ceiling) for the documents corpus at `dir` — the same census the
    * operators run (bands 16 × hashes 64, live rows only). */
  def probeIndexEligible(spark: SparkSession, dir: String): Boolean = {
    import org.apache.spark.sql.functions.col
    graft.operators.Dedup.probeIndexEstBytes(
      spark.read.parquet(s"$dir/documents.parquet").filter(col("text").isNotNull)
    ) <= graft.operators.Dedup.DefaultProbeIndexMaxBytes
  }

  /** Run `keys` at both SFs and report growth. Small SF runs first and also
    * serves as the JIT/codegen warmup for the big run — warmup bias INFLATES
    * tSmall, which only makes the growth check stricter, never looser.
    * A key whose input table does NOT grow between the chosen SFs would
    * make the check vacuous, so that's a harness-usage error, not a pass. */
  def check(spark: SparkSession, keys: Seq[(String, String)], small: String, big: String,
      iters: Int = 2): Seq[Result] = {
    val counts = keys.map(_._2).distinct
      .map(t => t -> dataCounts(spark, t, small, big)).toMap
    // live counts feed ONLY the escalation factor (see [[liveDataCounts]]);
    // computed per table and only for lanes carrying an escalating key
    val live = keys.collect { case (k, t) if EscalationKeys.contains(k) => t }
      .distinct.map(t => t -> liveDataCounts(spark, t, small, big)).toMap
    // probe-index ceiling-flip probe ([[ProbeIndexFlipKeys]]): one census
    // per dir, shared by every flip key in the lane. Skipped when the
    // forced-distributed flag is already up — that lane never flips.
    val stepFlips = keys.exists(k => ProbeIndexFlipKeys(k._1)) &&
      !graft.util.FastPaths.forceDistributed &&
      (probeIndexEligible(spark, small) != probeIndexEligible(spark, big))
    keys.map { case (k, table) =>
      val (cs, cb) = counts(table)
      val ratio = cb.toDouble / cs
      require(ratio > 1.0,
        s"$table does not grow from $small to $big (ratio $ratio) — " +
          "pick SFs with a real data step or the growth check is vacuous")
      val flip = stepFlips && ProbeIndexFlipKeys(k)
      if (flip) sys.props("graft.force.distributed") = "1"
      val (ts, tb) = try {
        val ts = time(spark, k, small, iters)
        println(f"[scale] $k $small ${ts}%.1fs; running $big ...")
        (ts, time(spark, k, big, iters))
      } finally if (flip) sys.props.remove("graft.force.distributed")
      val (ls, lb) = live.getOrElse(table, (cs, cb))
      val r = Result(k, ts, tb, tb / ts, ratio * escalationFactor(k, ls, lb) * SlackFactor,
        diagnosis = if (flip) Some("plan_flip: probe-index census crosses the 256MB " +
          "broadcast ceiling between dirs; both sides timed on the distributed plan " +
          "(like-plan growth; the default small-dir plan is the broadcast index)") else None)
      println(f"[scale] $k $small->$big ${r.tSmall}%.1f -> ${r.tBig}%.1f " +
        f"ratio ${r.ratio}%.2f bound ${r.bound}%.2f ok=${r.ok}" +
        (if (flip) " (like-plan: distributed both sides)" else ""))
      r
    }
  }

  /** SKEW lane (optional): SPARK_GRAFT_SCALE_SKEW names a
    * ScaleData-mode=skew dir; SPARK_GRAFT_SCALE_SKEW_BASE its equally-sized
    * UNIFORM twin (ScaleData default mode, same factor). tSmall = uniform,
    * tBig = skew, bound = [[SkewTaxBound]]: the lane holds size constant
    * and measures what the hot buckets alone cost. No-op (empty) when the
    * two env vars are unset. */
  def checkSkew(spark: SparkSession, keys: Seq[(String, String)]): Seq[Result] = {
    val skewDir = sys.env.get("SPARK_GRAFT_SCALE_SKEW")
    val skewBase = sys.env.get("SPARK_GRAFT_SCALE_SKEW_BASE")
    (skewBase, skewDir) match {
      case (Some(u), Some(sd)) => keys.map { case (k, _) =>
        // UNTIMED warmup on the control dir first: the key's plan shape
        // codegen/JIT compiles here, so neither timed run pays it. The
        // growth lanes' warmup bias direction (inflate the small side →
        // stricter) does NOT transfer to this lane: uniform-first timing
        // left the skew run warm and the control cold, DEFLATING the tax
        // (sub-1.0 ratios in the round-17 first capture) — the one
        // direction that could hide a mild funneling trap under the
        // bound. One extra pass per key is the price of a fair control.
        time(spark, k, u, iters = 1)
        val tu = time(spark, k, u)
        val ts = time(spark, k, sd)
        val r = Result(k, tu, ts, ts / tu, SkewTaxBound)
        println(f"[scale] skew $k uniform ${r.tSmall}%.1f -> skew ${r.tBig}%.1f " +
          f"tax ${r.ratio}%.2f bound ${r.bound}%.2f ok=${r.ok}")
        r
      }
      case _ => Seq.empty
    }
  }

  def main(args: Array[String]): Unit = {
    val small = sys.env.getOrElse("SPARK_GRAFT_SCALE_SMALL", "/root/testdata/sf0.01")
    val big = sys.env.getOrElse("SPARK_GRAFT_SCALE_BIG", "/root/testdata/sf0.1")
    // SPARK_GRAFT_SCALE_KEYS=a,b,c restricts every lane to the named keys
    // (fast local iteration on one family); unset = all. The committed
    // SCALING.json is always a FULL run — a filtered run writes the same
    // file, so regenerate unfiltered before committing it.
    val onlyKeys = sys.env.get("SPARK_GRAFT_SCALE_KEYS")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def lane(keys: Seq[(String, String)]): Seq[(String, String)] =
      onlyKeys.map(o => keys.filter(k => o(k._1))).getOrElse(keys)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    sys.props("graft.bench") = "1" // measure operators, not the eager gates
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", GraftSession.CodegenCacheEntries)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").collect()

    // SKEW lane first (round 18): the lane compares two equally-sized dirs,
    // so unlike the growth lanes it has no warmup-direction safety margin —
    // round 17's two unreproducible skew rows (5.66×/4.84×, isolated
    // re-measure 1.22×/0.97×) were END-OF-RUN JVM inflation after ~40
    // minutes of accumulated heap/codegen state. Timing it before the
    // growth lanes gives it the freshest JVM this process can offer; the
    // growth lanes are direction-safe by construction and keep their slot.
    val skew = checkSkew(spark, lane(SkewKeys ++ SkewJoinStreamKeys))

    val results = check(spark, lane(DataBoundEntries), small, big)
    def entryJson(rs: Seq[Result]): String = rs.map(r =>
      f""""${r.key}":{"small":${r.tSmall}%.3f,"big":${r.tBig}%.3f,""" +
        f""""ratio":${r.ratio}%.2f,"bound":${r.bound}%.2f,"ok":${r.ok}""" +
        r.diagnosis.map(d => s""","diagnosis":"$d"""").getOrElse("") + "}")
      .mkString("{", ",", "}")
    // third point: split the 10× step into two sub-steps for the
    // partition-gated gram-family keys (see [[ThirdPointKeys]])
    val mid = sys.env.getOrElse("SPARK_GRAFT_SCALE_MID",
      graft.util.Fs.processScopedTmpDir("graft-sf-mid").toString)
    ensureMidDir(spark, big, mid)
    val step1 = check(spark, lane(ThirdPointKeys), small, mid)
    val step2 = check(spark, lane(ThirdPointKeys), mid, big)
    // SECOND DECADE (optional): SPARK_GRAFT_SCALE_BIG2 names a dir one
    // more decade up (a [[ScaleData]]-synthesized sf1) — the regime where
    // the corpus genuinely spans many parquet splits and the small-SF
    // job-floor excuse stops applying. Default lane here, forced lane
    // below with the other forced runs. Only the tables ScaleData writes
    // (documents/embeddings/events) exist there, which covers every
    // data-bound key by construction.
    val big2 = sys.env.get("SPARK_GRAFT_SCALE_BIG2")
    val second = big2.map(b2 => check(spark, lane(DataBoundEntries), big, b2))
      .getOrElse(Seq.empty)
    // THIRD DECADE (optional, round 17): SPARK_GRAFT_SCALE_BIG3 names a
    // dir one more decade above big2 (a ScaleData-synthesized sf10 — 2M
    // docs / 200k vectors / 10M events). Three measured decades catch
    // what two can't: a growth term that is super-linear but mild (N^1.2
    // passes one 10× step inside the slack; it compounds across two) and
    // escalation-boundary effects that happen to sit between sf1 and sf10
    // (the 16×256 PQ step, the √-law nprobe at K≈500). Requires big2 —
    // the lane's small side is the second decade's big side.
    // iters = 2 at the third decade (round 18, standing protocol): round
    // 17 ran it at iters = 1 to halve a multi-hour lane, and the single
    // 324 s knn_graph_probe forced pass produced the round's only numeric
    // near-miss (27.36 vs bound 25.31) — at minutes per pass, single-run
    // noise is NOT a rounding error against the 1.5× slack. Min-of-2 is
    // the cheapest capture that suppresses it.
    //
    // Four keys sit out the third decade, each for a REASON the artifact
    // should carry rather than a silent drop:
    // - embed_neardup / semantic_dedup: at the third step the shipped
    //   n^ρ point (64 tables at bits 9-10) carries a 10^9-10^10-row
    //   candidate multiset — ~80-160 GB of shuffle spill against this
    //   host's ~78 GB free disk (measured: the sf10 run fills the disk;
    //   a 1000-executor cluster holds ~0.1 GB of it per node). Their
    //   third-decade recall AND candidate cost are evidenced by
    //   the pair-sampled estimator (RecallProbe neardup-est, validated
    //   0.452 est vs 0.453 full-operator at the 16-table point) AND,
    //   since round 18, by the MEASURED banded lane below
    //   (SPARK_GRAFT_SCALE_BAND3): a 40% source-id band of the sf10 dir
    //   (n = 80k) sits at the SAME engaged escalation (bits 9, flips 3,
    //   L = 64 — the n^ρ table law's operating point) with ~1/3 of the
    //   candidate mass (~50 GB spill), the largest slice this disk holds.
    // - graph_pagerank / q31_reachability: their 5-NN edge build is
    //   EXHAUSTIVE by oracle contract (the DuckDB replay brute-forces the
    //   graph, so the operator probes every cell — exact by design, like
    //   the *_exact baselines). That build is inherently quadratic and
    //   the lane would correctly flag it; the scalable escalating sibling
    //   (knn_graph_probe) stays in the lane.
    // hard_negatives left the growth lanes ENTIRELY for the same
    // exhaustive-by-oracle-contract reason (ADVICE r17: it hardcodes
    // nprobe = numCentroids = 16, so the nprobe escalation its round-17
    // bound borrowed never runs — a quadratic measured against a vacuous
    // bound); its adaptive sibling hard_negatives_probe carries the lane
    // coverage at every decade.
    val ThirdDecadeExcluded: Set[String] = Set(
      "embed_neardup", "semantic_dedup", "graph_pagerank", "q31_reachability")
    def thirdLane(keys: Seq[(String, String)]): Seq[(String, String)] =
      lane(keys).filterNot(k => ThirdDecadeExcluded(k._1))
    val big3 = sys.env.get("SPARK_GRAFT_SCALE_BIG3")
    val third = (big2, big3) match {
      case (Some(b2), Some(b3)) =>
        check(spark, thirdLane(DataBoundEntries), b2, b3, iters = 2)
      case _ => Seq.empty
    }
    // forced-distributed lane LAST: the flag is process-wide, so nothing
    // may time a default-lane entry after it flips. Within the forced
    // group the SKEW lane runs FIRST — same end-of-run-inflation reason
    // that hoisted the default skew lane to the top of main (round 17's
    // skew_forced/ngram_jaccard 4.84× did not reproduce isolated: 0.97×).
    sys.props("graft.force.distributed") = "1"
    val (forced, secondForced, thirdForced, skewForced, thirdBanded) = try {
      val sf = checkSkew(spark, lane(SkewKeys).filter(k =>
        ForcedDistributedKeys.map(_._1).contains(k._1)))
      // BANDED third decade (round 18): the two disk-excluded LSH pair
      // keys measured at their ENGAGED escalation point on the 40%
      // source-id band of the sf10 dir (see the exclusion comment above).
      // Runs in the forced group deliberately: the sf1 small side is
      // under the fused-kernel row ceiling and the 80k big side above
      // it, so like-plan growth requires the distributed plan — the one
      // the 100 TB story rests on — on BOTH sides. iters = 1: a second
      // pass doubles a ~50 GB spill against this host's disk budget.
      val banded = (big2, sys.env.get("SPARK_GRAFT_SCALE_BAND3")) match {
        case (Some(b2), Some(band)) =>
          check(spark, lane(Seq("embed_neardup" -> "embeddings",
            "semantic_dedup" -> "embeddings")), b2, band, iters = 1)
            .map(_.copy(diagnosis = Some("banded_third_decade: 40% source-id " +
              "band of the sf10 dir (largest disk-feasible slice, same " +
              "engaged escalation bits=9/flips=3/L=64); distributed plan " +
              "both sides (the sf1 side's fused kernel sits below its row " +
              "ceiling, the band above it)")))
        case _ => Seq.empty
      }
      (check(spark, lane(ForcedDistributedKeys), small, big),
        big2.map(b2 => check(spark, lane(ForcedDistributedKeys), big, b2))
          .getOrElse(Seq.empty),
        (big2, big3) match {
          case (Some(b2), Some(b3)) =>
            check(spark, thirdLane(ForcedDistributedKeys), b2, b3, iters = 2)
          case _ => Seq.empty
        },
        sf, banded)
    } finally sys.props.remove("graft.force.distributed")
    val skewDir = sys.env.get("SPARK_GRAFT_SCALE_SKEW")
    val skewBase = sys.env.get("SPARK_GRAFT_SCALE_SKEW_BASE")
    val secondJson = big2.map(b2 =>
      s""","second_decade_big":"$b2",""" +
        s""""second_decade":${entryJson(second)},""" +
        s""""second_decade_forced":${entryJson(secondForced)}""").getOrElse("")
    val thirdJson = (big2, big3) match {
      case (Some(_), Some(b3)) =>
        s""","third_decade_big":"$b3",""" +
          s""""third_decade":${entryJson(third)},""" +
          s""""third_decade_forced":${entryJson(thirdForced)}"""
      case _ => ""
    }
    val bandedJson = sys.env.get("SPARK_GRAFT_SCALE_BAND3")
      .filter(_ => thirdBanded.nonEmpty)
      .map(b => s""","third_decade_banded_big":"$b",""" +
        s""""third_decade_banded":${entryJson(thirdBanded)}""").getOrElse("")
    val skewJson = (skewBase, skewDir) match {
      case (Some(u), Some(sd)) =>
        s""","skew_base":"$u","skew_big":"$sd",""" +
          s""""skew":${entryJson(skew)},""" +
          s""""skew_forced":${entryJson(skewForced)}"""
      case _ => ""
    }
    // memory-pressure lane ([[MemLane]] — a SEPARATE JVM because its point
    // is the -Xmx): embed its last artifact verbatim when present, so
    // SCALING.json stays the one scale-evidence file
    val memJson = {
      val p = java.nio.file.Paths.get("SCALING_memory.json")
      if (java.nio.file.Files.exists(p))
        s""","memory_pressure":${java.nio.file.Files.readString(p).trim}"""
      else ""
    }
    val line = s"""{"metric":"scale_growth","small":"$small","big":"$big",""" +
      s""""entries":${entryJson(results)},""" +
      s""""third_point_small_mid":${entryJson(step1)},""" +
      s""""third_point_mid_big":${entryJson(step2)},""" +
      s""""forced_distributed":${entryJson(forced)}$secondJson$thirdJson$bandedJson$skewJson$memJson}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get("SCALING.json"), line)
    println(line)
    val bad = (results ++ step1 ++ step2 ++ forced ++ second ++ secondForced ++
      third ++ thirdForced ++ skew ++ skewForced ++ thirdBanded)
      .filterNot(_.ok)
    bad.foreach(r => System.err.println(
      f"[scale] ${r.key} grew ${r.ratio}%.1fx across the data step (bound ${r.bound}%.1fx)"))
    spark.stop()
    if (bad.nonEmpty) sys.exit(1)
  }
}
