package graft

import org.apache.spark.sql.SparkSession

/**
 * Memory-pressure lane (round 17, verdict item #6): run the
 * forced-distributed plans — the ones the 100 TB story actually rests on —
 * at the largest synthesized SF under a DELIBERATELY SMALL heap, to prove
 * the blocked kernels, Misra-Gries sketches and pointer-jumping closures
 * SPILL instead of OOM when executor memory is tight. The growth lanes
 * bound shuffle/compute shape; this lane bounds peak-memory shape — the
 * two failure modes are independent (a perfectly linear operator can still
 * hold one partition's worth of state that outgrows the heap).
 *
 * Run (build.sbt wires SPARK_DRIVER_MEM into the forked JVM's -Xmx):
 *
 *   SPARK_DRIVER_MEM=4g SPARK_GRAFT_CPUS=8 \
 *     SPARK_GRAFT_MEM_DIR=testdata-gen/sf1 sbt -batch "runMain graft.MemLane"
 *
 * Writes `SCALING_memory.json`; [[ScaleCheck]] embeds it into SCALING.json
 * as the `memory_pressure` lane on its next full run. Exits non-zero if
 * any key fails to complete — an OOM here is a real finding, not noise:
 * 4 GiB for local[8] over the sf1 corpus is proportionally TIGHTER than a
 * production executor (tens of GB for a handful of task slots) ever is.
 */
object MemLane {

  /** The forced-distributed key set plus the three memory-shape families
    * the verdict named that it misses: the Misra-Gries sketch
    * (heavy_hitters), the 128-bit packed-counter SimHash kernel
    * (dedup_simhash), and the full clean pipeline (corpus_clean — the
    * widest single plan on the board). */
  val Keys: Seq[String] = (ScaleCheck.ForcedDistributedKeys.map(_._1) ++
    Seq("heavy_hitters", "dedup_simhash", "corpus_clean")).distinct

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_MEM_DIR", "testdata-gen/sf1")
    // SPARK_GRAFT_MEM_KEYS=a,b,c runs a subset (the engaged-escalation
    // point lane — round 18: the sf1 full lane runs where the table law is
    // inert, so the LSH/knn subset re-runs at a dir where L and nprobe are
    // escalated, under the same 4 GiB heap); SPARK_GRAFT_MEM_APPEND=1
    // merges this run into SCALING_memory.json as a lane ARRAY instead of
    // overwriting, so one artifact carries both points.
    val onlyKeys = sys.env.get("SPARK_GRAFT_MEM_KEYS")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val keys = onlyKeys.map(o => Keys.filter(o)).getOrElse(Keys)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    // SPARK_GRAFT_MEM_PARTITIONS decouples shuffle partitions from task
    // slots (round 18): the pinned shuffle-hash joins build per-partition
    // hash relations that CANNOT spill (Spark's SHJ build is in-memory by
    // design), so their memory floor is corpusBytes/partitions per task —
    // a PARTITION-SIZING rule, not a heap rule. At the engaged band point
    // (80k vectors) 8 partitions asked 512 MB per build against a 6 GiB
    // heap's per-task share and failed loudly; 32 partitions is the same
    // corpus at ~11 MB per build. A real cluster applies exactly this rule
    // (spark.sql.shuffle.partitions scales with data, not with one
    // executor's cores); the lane records the partitions it ran with.
    // validated as an Int up front: the value is interpolated unquoted into
    // the JSON artifact below, so a non-numeric env var would silently
    // corrupt SCALING_memory.json instead of failing the run
    val partitions = sys.env.getOrElse("SPARK_GRAFT_MEM_PARTITIONS", cpus).trim
    require(partitions.toIntOption.exists(_ > 0),
      s"SPARK_GRAFT_MEM_PARTITIONS must be a positive integer, got '$partitions'")
    sys.props("graft.bench") = "1" // measure the operators, not the eager gates
    sys.props("graft.force.distributed") = "1" // the 100 TB plans, no fast paths
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", partitions)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", GraftSession.CodegenCacheEntries)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val heapMb = Runtime.getRuntime.maxMemory() / (1024L * 1024L)
    println(s"[memlane] dir=$dir heapMb=$heapMb cpus=$cpus keys=${keys.size}")
    val entries = keys.map { key =>
      val t0 = System.nanoTime()
      val err: Option[String] =
        try {
          SparkEntry.queries(key)(spark, dir)
            .write.format("noop").mode("overwrite").save()
          None
        } catch { case e: Throwable => Some(e.toString.take(200)) }
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"[memlane] $key: ${if (err.isEmpty) "ok" else "FAIL"} $secs%.1fs" +
        err.map(" " + _).getOrElse(""))
      (key, secs, err)
    }
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val json = entries.map { case (k, s, e) =>
      f"""${q(k)}:{"secs":$s%.3f,"ok":${e.isEmpty}${e.map(m => s""","err":${q(m)}""").getOrElse("")}}"""
    }.mkString(
      s"""{"dir":${q(dir)},"heap_mb":$heapMb,"cpus":$cpus,"partitions":$partitions,"entries":{""", ",", "}}")
    val path = java.nio.file.Paths.get("SCALING_memory.json")
    val out =
      if (sys.env.get("SPARK_GRAFT_MEM_APPEND").contains("1") &&
          java.nio.file.Files.exists(path)) {
        val old = java.nio.file.Files.readString(path).trim
        val oldLanes = if (old.startsWith("[")) old.stripPrefix("[").stripSuffix("]") else old
        // an empty/truncated prior file (crashed run) must not splice into
        // invalid JSON like `[,{...}]` — fall back to a fresh single-lane file
        if (oldLanes.trim.isEmpty) json else s"[$oldLanes,$json]"
      } else json
    java.nio.file.Files.writeString(path, out)
    println(out)
    spark.stop()
    if (entries.exists(_._3.nonEmpty)) sys.exit(1)
  }
}
