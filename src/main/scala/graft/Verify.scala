package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * SPARK_GRAFT_SPILL=1 re-runs the SAME dump under a forced-spill
  * regime, so `tools/check_oracle.py` then replays the full DuckDB
  * oracle against outputs computed through external sort / spilled
  * SMJ / sort-fallback aggregation — the execution paths a 100 TB
  * cluster lives in and that a comfortable local heap never exercises
  * (round-13 sweep; the SpillSweep spec is the same-JVM A/B twin).
  * The static core conf spark.shuffle.spill.numElementsForceSpillThreshold
  * makes EVERY UnsafeExternalSorter (SortExec, shuffle-sort, agg
  * fallback, SMJ buffers) spill each SPARK_GRAFT_SPILL_THRESHOLD rows
  * (default 256 Ki — see the fan-in sizing note below) — only settable
  * at session build, which is why this mode lives here and not in the
  * shared-session test sweep. The run fails loudly if nothing actually
  * spilled, so a renamed conf can never degrade this into a silent
  * default-path run. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spillMode = sys.env.get("SPARK_GRAFT_SPILL").contains("1")
    // SPARK_GRAFT_OFFHEAP=1 re-runs the dump with Tungsten allocation
    // flipped OFF-HEAP (spark.memory.offHeap.*) — the config most large
    // clusters run and the serializer/page-boundary class no sweep
    // could touch in the shared test JVM: the UnifiedMemoryManager
    // reads these confs ONCE at context construction, so the regime
    // needs its own session exactly like the static spill threshold
    // does. check_oracle over the off-heap dump = the cross-engine
    // off-heap-parity gate; tools/compare_dumps.py against a default
    // dump = the bitwise A/B form (round 14).
    val offHeapMode = sys.env.get("SPARK_GRAFT_OFFHEAP").contains("1")
    // 256 Ki rows/file with read-ahead OFF, not "as small as possible":
    // every open spill reader allocates a 1 MB heap buffer (2 MB with
    // read-ahead) and the merge phase opens ALL of a sort's files at
    // once, so the fan-in budget is REAL — a 2000-row threshold put
    // thousands of files under one merge and OOM'd a 24 GB heap before
    // query 10, and 64 Ki still OOM'd on q243's ~50M-row triangle
    // enumeration sort at 8 concurrent tasks (both measured, round 13).
    // 256 Ki spills every big kernel stage at sf0.01 while capping a
    // 50M-row merge at ~190 files ≈ 190 MB/task — the same fan-in
    // arithmetic a real cluster's spill config has to respect.
    // SPARK_GRAFT_SPILL_THRESHOLD overrides the static rows/file for
    // bigger SFs: at sf0.1 the 256 Ki default tripped the 20k fd
    // ulimit on q243's fallback sort (open spill files accumulate per
    // task until the merge) — 2 Mi holds the same fan-in budget at
    // 10x the rows.
    val spillThreshold =
      sys.env.getOrElse("SPARK_GRAFT_SPILL_THRESHOLD", "262144")
    // The hash-agg fallback point needs the same scale-awareness for a
    // DIFFERENT reason: every time the map refills to the fallback key
    // count it is destructed into a sorter whose merge appends one
    // spill FILE, so "64, 128" over a multi-million-group aggregate
    // (q243's triangle corners at sf0.1) creates tens of thousands of
    // files per task and trips the fd ulimit no matter what the static
    // row threshold says. Scale it with the data: groups/file ≈
    // fallback second value. "64, 128" is what the full-catalog gate runs
    // green with on build.sbt's 24g heap, so heaps from 24 GiB up keep it.
    // Smaller heaps get more keys per file, inversely with the heap, since
    // the merge holds one read buffer per file: "64, 128" OOM'd 3-6 GB
    // heaps even at sf0.001, where "4096, 8192" on a 4 GB heap still
    // spilled 64 MB on q243 at 4 cpus (128 MB at 2) — so 8192 keys at
    // 4 GiB, to the nearest power of two.
    val aggFallback = sys.env.getOrElse("SPARK_GRAFT_SPILL_AGG_FALLBACK", {
      val heapGib = Runtime.getRuntime.maxMemory.toDouble / (1L << 30)
      val keys =
        if (heapGib >= 24) 128
        else 1 << math.round(math.log(8192 * 4 / heapGib) / math.log(2)).toInt
      s"${keys / 2}, $keys"
    })
    val spillConfs = if (!spillMode) Nil else Seq(
      "spark.shuffle.spill.numElementsForceSpillThreshold" -> spillThreshold,
      "spark.unsafe.sorter.spill.read.ahead.enabled" -> "false",
      // per-buffer thresholds sized like SpillSweep's (4096 rows/file,
      // same merge fan-in math as the static threshold above — the
      // 64-row draft OOM'd exactly like the 2000-row static draft did)
      "spark.sql.sortMergeJoinExec.buffer.in.memory.threshold" -> "64",
      "spark.sql.sortMergeJoinExec.buffer.spill.threshold" -> "4096",
      "spark.sql.windowExec.buffer.in.memory.threshold" -> "64",
      "spark.sql.windowExec.buffer.spill.threshold" -> "4096",
      "spark.sql.sessionWindow.buffer.in.memory.threshold" -> "64",
      "spark.sql.sessionWindow.buffer.spill.threshold" -> "4096",
      "spark.sql.cartesianProductExec.buffer.in.memory.threshold" -> "64",
      "spark.sql.cartesianProductExec.buffer.spill.threshold" -> "4096",
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "16",
      "spark.sql.TungstenAggregate.testFallbackStartsAt" -> aggFallback)
    val offHeapConfs = if (!offHeapMode) Nil else Seq(
      "spark.memory.offHeap.enabled" -> "true",
      // bounded, not "big": off-heap EXECUTION pages come from this pool
      // only, so sizing it near the data's working set keeps the run
      // honest about page-boundary handling under pressure. 4g covers
      // the sf0.01 gate at 4 cpus with headroom; override for sf0.1.
      "spark.memory.offHeap.size" -> sys.env.getOrElse("SPARK_GRAFT_OFFHEAP_SIZE", "4g"))
    val spark = Harness.session(Harness.cpus("4"), confs = spillConfs ++ offHeapConfs)
    val offHeapPeak = new java.util.concurrent.atomic.AtomicLong
    if (offHeapMode) {
      val mode = org.apache.spark.graft.SparkShims
        .tungstenMemoryMode(spark.sparkContext)
      require(mode == "OFF_HEAP",
        s"SPARK_GRAFT_OFFHEAP=1 was set but tungstenMemoryMode=$mode — " +
          "the conf names no longer bite; this dump would exercise only " +
          "the on-heap allocation paths")
      // prove pages were actually ALLOCATED off-heap, not just that the
      // mode flag stuck: sample the execution pool between queries (the
      // atomic is read under the same require discipline as spill mode)
      val sampler = new Thread(() => {
        while (!spark.sparkContext.isStopped) {
          try offHeapPeak.getAndUpdate(p => math.max(p,
            org.apache.spark.graft.SparkShims
              .offHeapExecutionMemoryUsed(spark.sparkContext)))
          catch { case _: Throwable => () }
          Thread.sleep(25)
        }
      })
      sampler.setDaemon(true)
      sampler.start()
    }
    val metrics = Harness.metrics(spark)
    new java.io.File(outDir).mkdirs()
    // VERIFY_ONLY=q64_...,q35_... restricts the dump (and the emitted
    // oracle JSON) to a named subset — targeted re-checks at big scale
    // factors without paying for the O(n²) recall oracles. Unset = all.
    val only = sys.env.get("VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def selected(name: String): Boolean = only.forall(_.contains(name))
    SparkEntry.queries.filter(kv => selected(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => selected(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // A fatal error (OOM in a daemon thread) stops the context and
    // every later query "fails" with a stopped-context message the
    // per-query catch absorbs — without this the run still exited 0
    // with a 11/338 dump (observed in the round-13 spill drafts).
    require(!spark.sparkContext.isStopped,
      "[verify] SparkContext died mid-run — the dump above is PARTIAL")
    if (spillMode) {
      val spilled = metrics.take(spark.sparkContext).spillBytes
      System.err.println(
        s"[verify] forced-spill mode: ${spilled >> 20} MB spilled (agg fallback $aggFallback)")
      // The hard require guards the FULL-catalog gate against renamed
      // confs degrading it to a silent default-path run. A VERIFY_ONLY
      // subset of small queries can legitimately spill zero bytes
      // (ADVICE r13) — there the zero-spill reading is a warning, and
      // the subset must not be recorded as a spill-parity pass anyway.
      if (only.isEmpty)
        require(spilled > 0L,
          "SPARK_GRAFT_SPILL=1 was set but the run spilled ZERO bytes — " +
            "the threshold confs no longer bite; this dump exercised only " +
            "the default in-memory paths and must not be recorded as a " +
            "spill-parity pass")
      else if (spilled == 0L)
        System.err.println(
          "[verify] WARNING: VERIFY_ONLY subset spilled zero bytes — " +
            "either the subset is too small to spill or the threshold " +
            "confs no longer bite; not a spill-parity pass either way")
    }
    if (offHeapMode) {
      System.err.println(
        s"[verify] off-heap mode: peak off-heap execution " +
          s"${offHeapPeak.get() >> 20} MB")
      // same full-gate/subset split as the spill require: the 25 ms
      // sampler can only miss a sub-millisecond allocation on a run too
      // small to matter; the full catalog holds multi-second off-heap
      // sorts/aggregates at every SF
      if (only.isEmpty)
        require(offHeapPeak.get() > 0L,
          "SPARK_GRAFT_OFFHEAP=1 was set but the sampler never observed " +
            "off-heap execution memory in use — the run must not be " +
            "recorded as an off-heap-parity pass")
      else if (offHeapPeak.get() == 0L)
        System.err.println(
          "[verify] WARNING: VERIFY_ONLY subset never showed off-heap " +
            "execution memory in use under the 25 ms sampler")
    }
    spark.stop()
  }
}
