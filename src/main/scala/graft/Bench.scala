package graft

/** Benchmark main: times the headline queries (BENCH_ALL=1 for the
  * whole catalog) on SPARK_GRAFT_SF_DIR and prints ONE JSON line.
  *
  * Each query is materialized through the noop sink ([[Harness.timed]]).
  *
  * De-noising: one FULL untimed warm-up pass runs the whole selected
  * suite first (HotSpot JIT + codegen compilation land there, not in
  * the first timed rep — round-3 driver runs showed 3-9× rep-1
  * inflation on the dedup family from cold-JVM cost alone), caches are
  * cleared, then the suite runs BENCH_REPS times (default 3) and each
  * query reports its MINIMUM across reps. Session-keyed caches (shared
  * near-dup / LSH pair sets, ALS models) are cleared between reps so
  * every rep pays full compute — the min is a complete computation,
  * not a cache hit. Min, not median: a round-6 controlled experiment
  * (full ScalaTest Spark JVM beside the bench, the driver's own shape)
  * showed the q63/q66/q74/q83 "transient spike" class is pure CPU
  * contention — spiked reps carry ZERO extra GC time and ZERO codegen
  * recompiles, they just run 3-6× slower while the neighbor JVM owns
  * the cores. A median of 3 flips to the disturbed value whenever 2
  * reps are disturbed; the min reports the least-disturbed complete
  * run, which is the engine's cost. The full per-rep distribution
  * ships in `rep_times` (+ `gc_ms`, `codegen_compiles`), so loaded
  * behavior stays visible rather than hidden by the summary statistic.
  *
  * Attribution note: WITHIN a rep, caches are shared — the CANONICAL
  * PAYER of each shared kernel family ([[cachePayers]]) runs FIRST and
  * pays its build cost; every other reader then times a cache hit.
  * Payer-first ordering (round 10) replaced plain lexicographic order
  * after q149 — which sorts before q35 — silently absorbed the shingle
  * build and drifted 0.95x -> 1.49x against an envelope that attributed
  * that cost to q35. Per-query numbers are therefore suite-relative,
  * not standalone; the emitted JSON carries each family's readers, as
  * the warm-up pass recorded them, under "shared_cache_groups" and the
  * actual payer under "cache_build_paid_by" so a BENCH_ONLY subset is
  * read correctly.
  *
  * A query that throws is reported as null in `queries` and listed in
  * `errors` instead of contributing a near-zero time to the total.
  *
  * Spike diagnosis: alongside each reported min the JSON carries the per-rep
  * wall times (`rep_times`), the JVM GC-time delta per rep (`gc_ms`),
  * and the whole-stage-codegen compilation-count delta per rep
  * (`codegen_compiles`) — so a shifted rep is attributable to GC
  * pressure vs codegen-cache thrash vs a genuine plan change without
  * rerunning under a profiler (round-5 verdict: medians alone made the
  * q63/q74/q83 transient-spike class undiagnosable).
  *
  * Per-job view: `jobs` carries each query's Spark job count per rep,
  * and the final rep lists on stderr every job of at least 20 ms (id,
  * ms, task count, description). `BENCH_ONLY=<q> BENCH_REPS=1` is a
  * shared-cache payer's regime (warm-up, caches cleared, one timed
  * run); `BENCH_ONLY=<payer>,<q>` is a member's (the payer runs first
  * and leaves the cache warm).
  */
object Bench {

  /** Canonical payers of the within-rep shared session caches, in run
    * order: each runs FIRST (see run-order note in main) and pays the
    * build of the kernel families it reads — q35 the shingle rows and
    * verified pairs, q40 the LSH candidates, q165 the ANN buckets, q14
    * the co-pair graph, m01 the ALS model, m05 the GBT model — so every
    * later reader times a cache hit. Only the order is kept by hand:
    * which queries read which family is recorded during the warm-up
    * pass ([[queries.KernelCache.recording]]).
    */
  private[graft] val cachePayers: Seq[String] = Seq(
    "q35_ngram_jaccard_neardup", "q40_embedding_lsh_ann",
    "q165_semantic_decontamination", "q14_part_pairs",
    "m01_als_user_factors", "m05_gbt_eval")

  /** One successful timed run of a query: wall seconds, then the GC
    * ms, codegen compilations, shuffle-write MB, spill MB and Spark jobs
    * it added.
    */
  private final case class Rep(secs: Double, gcMs: Long, codegen: Long,
      shuffleWriteMb: Long, spillMb: Long, jobs: Int)

  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum
  }

  /** Cumulative count of whole-stage-codegen compilations in this JVM. */
  private def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** 1/5/15-min load averages, or empty off-Linux — recorded at suite
    * start and end in the diagnostics line. Round-13 lesson: an
    * orphaned hung test JVM (~1.4 cores for 8 h) inflated two rounds
    * of driver bench readings before anyone looked at machine load;
    * with loadavg in the emitted JSON that diagnosis is one grep, and
    * an envelope ratio read against a loaded box stops masquerading as
    * engine drift.
    */
  private def loadavg(): Seq[Double] =
    scala.util.Try(
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")))
        .split("\\s+").take(3).toSeq.map(_.toDouble))
      .getOrElse(Seq.empty)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val loadStart = loadavg()
    val reps = sys.env.getOrElse("BENCH_REPS", "3").toInt
    val spark = Harness.session(Harness.cpus("4"))
    val selected = sys.env.get("BENCH_ONLY") match {
      case Some(names) =>
        val keep = names.split(",").map(_.trim).toSet
        queries.Catalog.all.filter(q => keep(q._1))
      case None =>
        if (sys.env.get("BENCH_ALL").contains("1")) queries.Catalog.all
        else queries.Catalog.all.filter(_._2.headline)
    }
    val names = selected.toSeq.sortBy(_._1)
    // Run order: canonical cache payers FIRST, then the rest sorted.
    // Round-9 lesson (q149 0.95x -> 1.49x envelope drift on an
    // unchanged plan): q149 sorts before q35, so with lexicographic
    // run order q149 paid the cleared-cache shingle+signature build
    // that the envelope and `cache_build_paid_by` attribute to q35.
    // Payer-first ordering pins the build cost on the designated
    // payer every run, so per-query numbers stay comparable across
    // rounds as members are added.
    val payersFirst = cachePayers.filter(names.map(_._1).toSet)
    val runOrder = names.filter(n => payersFirst.contains(n._1))
      .sortBy(n => payersFirst.indexOf(n._1)) ++
      names.filterNot(n => payersFirst.contains(n._1))
    val runs = scala.collection.mutable.Map.empty[String, Vector[Rep]]
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    val metrics = Harness.metrics(spark)
    // full untimed warm-up pass: every selected query runs once so JIT +
    // codegen compilation is paid before any timed rep (a failure here is
    // logged but not recorded — the timed reps classify it). It also
    // records the shared-cache families each query reads.
    val reads = scala.collection.mutable.Map.empty[String, Set[String]]
    runOrder.foreach { case (name, spec) =>
      val (run, read) = queries.KernelCache.recording(Harness.timed(spec.fn(spark, sfDir)))
      reads(name) = read
      run match {
        case Right(dt) => System.err.println(f"[bench] warmup $name $dt%.2fs")
        case Left(e) => System.err.println(s"[bench] warmup $name FAILED: $e")
      }
    }
    for (rep <- 1 to reps) {
      queries.Catalog.clearCaches(spark)
      // nudge the ContextCleaner so dereferenced model/checkpoint blocks
      // from the previous pass are actually freed before timing resumes
      System.gc()
      runOrder.foreach { case (name, spec) =>
        val s0 = metrics.take(spark.sparkContext)
        val gc0 = gcMillis(); val cg0 = codegenCompiles()
        val run = Harness.timed(spec.fn(spark, sfDir))
        val gcd = gcMillis() - gc0; val cgd = codegenCompiles() - cg0
        val s1 = metrics.take(spark.sparkContext)
        val sw = (s1.shuffleWriteBytes - s0.shuffleWriteBytes) >> 20
        val sp = (s1.spillBytes - s0.spillBytes) >> 20
        run match {
          case Right(dt) =>
            runs(name) = runs.getOrElse(name, Vector()) :+ Rep(dt, gcd, cgd, sw, sp, s1.jobs.size)
          case Left(e) =>
            System.err.println(s"[bench] $name FAILED: $e")
            failed += name
        }
        System.err.println(
          s"[bench] rep $rep $name ${run.fold(_ => "(failed)", d => f"$d%.2fs")} " +
            s"gc=${gcd}ms cg=$cgd shufW=${sw}MB spill=${sp}MB jobs=${s1.jobs.size}")
        // the per-job view of the final rep: which jobs carry the time,
        // and at what task count
        if (rep == reps) s1.jobs.filter(_.ms >= 20).foreach { j =>
          System.err.println(
            f"[bench]   job ${j.id}%4d ${j.ms}%6d ms tasks=${j.tasks}%4d ${j.description.take(90)}")
        }
      }
    }
    def best(v: Vector[Rep]): Double = v.map(_.secs).min
    import Harness.num
    // a query that failed in ANY rep is null — a partial min next to
    // an errors entry would read as both failed and timed
    def goodRuns(k: String): Option[Vector[Rep]] =
      if (failed(k)) None else runs.get(k).filter(_.nonEmpty)
    val qs = names.map { case (k, _) =>
      goodRuns(k) match {
        case Some(v) => "\"" + k + "\":" + num(best(v), 3)
        case None => "\"" + k + "\":null"
      }
    }.mkString("{", ",", "}")
    val total = names.flatMap { case (k, _) => goodRuns(k).map(best) }.sum
    // per-rep diagnostics, keyed like `queries` (successful reps only)
    def perRep(field: Rep => Any): String =
      names.flatMap { case (k, _) =>
        goodRuns(k).map(v => "\"" + k + "\":" + v.map(field).mkString("[", ",", "]"))
      }.mkString("{", ",", "}")
    val repTimes = perRep(r => num(r.secs, 3))
    val gcJson = perRep(_.gcMs)
    val cgJson = perRep(_.codegen)
    val swJson = perRep(_.shuffleWriteMb)
    val spJson = perRep(_.spillMb)
    val jobsJson = perRep(_.jobs)
    val errs = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // each family's readers in run order; caches are cleared before every
    // rep, so the first reader is the query that paid the build — the
    // canonical payer when it is in the suite (it runs first by
    // construction), else the earliest reader (BENCH_ONLY subsets)
    val readers = runOrder.flatMap { case (q, _) => reads(q).map(_ -> q) }
      .groupMap(_._1)(_._2).toSeq.sortBy(_._1)
    val shared = readers.map { case (g, ms) =>
      "\"" + g + "\":" + ms.map("\"" + _ + "\"").mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val attribution = readers.map { case (g, ms) =>
      "\"" + g + "\":\"" + ms.head + "\""
    }.mkString("{", ",", "}")
    // Two lines, diagnostics FIRST: the driver captures only a ~2000-char
    // tail of the output, so the LAST line must be a compact scalar summary
    // (r6 lesson — the single fat line with per-rep arrays outgrew the
    // driver's tail window and the round's bench parse came back null).
    // The full per-rep distribution/attribution stays on the earlier
    // "diagnostics" line for humans and tools/check_bench.py.
    def loadJson(v: Seq[Double]): String =
      v.map(d => num(d, 2)).mkString("[", ",", "]")
    println(f"""{"diagnostics":true,"rep_times":$repTimes,"gc_ms":$gcJson,"codegen_compiles":$cgJson,"shuffle_write_mb":$swJson,"spill_mb":$spJson,"jobs":$jobsJson,"shared_cache_groups":$shared,"cache_build_paid_by":$attribution,"warmup":true,"heap_gb":${Runtime.getRuntime.maxMemory / (1 << 30)},"loadavg_start":${loadJson(loadStart)},"loadavg_end":${loadJson(loadavg())}}""")
    val summary = s"""{"metric":"total","value":${num(total, 3)},"unit":"sec","queries":$qs,"stat":"min","reps":$reps,"errors":$errs,"sf":"$sfDir"}"""
    // BENCH_ALL's ~150-query map would overflow the tail window too —
    // drop the per-query detail (it survives via rep_times above) before
    // letting the final line grow past the driver's capture.
    val lastLine =
      if (summary.length <= 1900) summary
      else s"""{"metric":"total","value":${num(total, 3)},"unit":"sec","stat":"min","reps":$reps,"n_queries":${names.size},"queries_elided":true,"errors":$errs,"sf":"$sfDir"}"""
    println(lastLine)
    spark.stop()
  }
}
