package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // static conf: the default 100-entry codegen class cache thrashes
      // across this many distinct plans, forcing multi-second Janino
      // recompiles mid-bench
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.adaptive.enabled",
        sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))
      // bench what users run: the session with the engine's extensions
      // (argmax rewrite rule + native SQL functions) installed
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm the non-query costs (JVM + parquet footers) once. A fixture
    // that cannot be read stops the window here, before anything is
    // timed.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      spark.read.parquet(s"$sfDir/$t.parquet").count(): Unit
    }
    // Steady-state throughput: one untimed warmup run per query (pays
    // Janino codegen compile + JIT), then min of three timed runs (this
    // container shows multi-second scheduler/JIT jitter; min-of-N is the
    // standard noise floor). Measures execution — the quantity that
    // scales with data — not single-shot compile latency.
    // optional comma-separated name filter (local iteration only — the
    // driver always benches the full set)
    val only: Set[String] = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").toSet).getOrElse(Set.empty)
    // Between-queries block hygiene (default ON): every query's staged
    // localCheckpoints are transient, but nothing ever unpersisted them
    // — over a ~240-query window thousands of blocks accumulated and
    // the storage-memory pressure landed on whichever query ran near
    // the cliff (the r9 driver-window x_dedup_near 8× gap). Memoized
    // cross-query artifacts are pinned (Checkpoints.stagePinned) and
    // survive. SPARK_GRAFT_FREE=false restores the old behavior for
    // A/B runs.
    val freeBetween =
      sys.env.getOrElse("SPARK_GRAFT_FREE", "true").toBoolean
    // per-query shuffle-spill accounting (stderr diagnostics only)
    val spilled = new java.util.concurrent.atomic.AtomicLong(0L)
    val gcTime = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = e.taskMetrics
          if (m != null) {
            spilled.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
            gcTime.addAndGet(m.jvmGCTime): Unit
          }
        }
      })
    // hypervisor steal time (/proc/stat cpu field 8, jiffies): this
    // container is a guest VM, and co-tenant bursts on the HOST are
    // invisible to in-guest process accounting — a per-query stealSec
    // reading is the only in-band signal that a slow line was the
    // host's fault, not the query's (r14: a live burst inflated the
    // alphabetically contiguous x_q*-x_s* stretch 4x mid-window while
    // guest load was idle; steal was the smoking gun)
    def stealJiffies(): Long = try {
      val l = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get("/proc/stat")).get(0)
      l.trim.split("\\s+").drop(1).lift(7).map(_.toLong).getOrElse(0L)
    } catch { case _: Throwable => 0L }
    val winSteal0 = stealJiffies()
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only(name) }
      .map { case (name, fn) =>
      val sp0 = spilled.get(); val gc0 = gcTime.get()
      val st0 = stealJiffies()
      // a query that throws on ANY run is FAILED: it keeps its error
      // class and never contributes a time (a throw is fast, not valid)
      var error: Option[String] = None
      def timed(): Double = {
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count(): Unit } catch {
          case t: Throwable =>
            if (error.isEmpty) error = Some(t.getClass.getName)
        }
        (System.nanoTime() - t0) / 1e9
      }
      val warm = timed()
      val times = (1 to 3).map(_ => timed())
      val stor = spark.sparkContext.getRDDStorageInfo
      // per-query hypervisor steal over warmup+timed runs — committed
      // into bench_full.json (not just stderr) so round-over-round
      // flag adjudication can read the contention column in-band
      val qSteal = (stealJiffies() - st0) / 100.0
      System.err.println(f"[bench] $name warm=$warm%.2f " +
        times.zipWithIndex.map { case (t, i) => f"t${i + 1}=$t%.2f" }
          .mkString(" ") +
        f" rdds=${stor.length}%d memMB=${
          stor.map(_.memSize).sum / (1024 * 1024)}%d" +
        f" spillMB=${(spilled.get() - sp0) / (1024 * 1024)}%d" +
        f" gcSec=${(gcTime.get() - gc0) / 1000.0}%.1f" +
        f" stealSec=$qSteal%.1f" + error.fold("")(e => s" FAILED=$e"))
      if (freeBetween) graft.operators.Checkpoints.freeTransient(spark)
      (name, times.min, qSteal, error)
    }
    val failed = results.filter(_._4.isDefined)
    val ok = results.filter(_._4.isEmpty)
      .map { case (k, v, s, _) => (k, v, s) }
    val total = ok.map(_._2).sum
    if (failed.nonEmpty)
      System.err.println(s"[bench] ${failed.size} failed queries " +
        "(left out of the total): " +
        failed.map { case (k, _, _, e) => s"$k=${e.get}" }.mkString(" "))
    // window-total hypervisor steal (cpu-seconds): the in-band
    // contention signal — a window with hundreds of stolen cpu-seconds
    // is adjudicating the HOST, not this code (see ROUND_NOTES_r14 §1b)
    val stealSec = (stealJiffies() - winSteal0) / 100.0
    // Full-precision per-query timings → file (the driver captures only
    // the last 2000 chars of output, so the stdout line must stay small;
    // BENCH_r02 proved a full 92-query map overflows that window and
    // parses as null).
    val fullJson = {
      val qs = ok.map { case (k, v, _) => "\"" + k + "\":" + v }
        .mkString("{", ",", "}")
      val status = results
        .map { case (k, _, _, e) => "\"" + k + "\":\"" +
          (if (e.isEmpty) "ok" else "failed") + "\"" }
        .mkString("{", ",", "}")
      val errors = failed
        .map { case (k, _, _, e) => "\"" + k + "\":\"" + e.get + "\"" }
        .mkString("{", ",", "}")
      // Locale.ROOT: f"" uses the JVM default locale, which under a
      // comma-decimal locale (de_DE) would emit 0,3 — invalid JSON
      val steals = results
        .map { case (k, _, s, _) => "\"" + k + "\":" +
          String.format(java.util.Locale.ROOT, "%.1f",
            Double.box(s)) }
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":$total,"unit":"sec","n":${ok.size},"failed":${failed.size},"steal_sec":$stealSec,"queries":$qs,"status":$status,"errors":$errors,"steals":$steals,"sf":"$sfDir"}"""
    }
    // a failed write throws: a stale window must not pass for this one
    val p = java.nio.file.Paths.get("target/bench_full.json")
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p, fullJson.getBytes("UTF-8")): Unit
    // Stdout line: total over ALL queries + a fixed headline subset at
    // 3-decimal precision, sized to fit the driver's tail window.
    val headline = Seq(
      "q_agg_pricing", "q_anti_join", "q_argmax_daily", "q_argmax_lineitem",
      "q_date_trunc", "q_explode_pos", "q_filter_project", "q_join_agg",
      "q_join_dims", "q_json_get", "q_json_parse", "q_rank_window",
      "q_rollup", "q_scan_project", "q_semi_join", "q_sort_limit",
      "q_ts_parse", "q_union_distinct",
      "r_asof_join", "r_range_join", "r_sessionize", "r_topk_agg",
      "r_argmax_maxby", "r_grouping_sets", "r_pivot", "r_running_sum",
      "r_percentiles", "r_sql_text", "r_in_subquery", "r_full_outer",
      "x_dedup_exact", "x_dedup_digest", "x_dedup_near", "x_minhash_sigs",
      "x_minhash_pairs", "x_simhash", "x_ngram_jaccard", "x_cosine_topk",
      "x_cosine_ann", "x_cosine_ivf", "x_lang_id", "x_quality",
      "x_token_stats", "x_bpe_tokens", "x_dedup_clusters", "x_pack_bins",
      "x_shuffle_order", "x_top_terms", "x_pipeline_e2e",
      "x_embed_clusters", "x_split_assign", "x_dedup_incremental",
      "r_asof_native", "r_session_window",
      "x_embed_lsh_clusters", "x_cc_chain", "x_image_meta",
      "x_heavy_hitters", "r_interval_join")
    val byName = ok.map { case (k, v, _) => k -> v }.toMap
    // same Locale.ROOT treatment as the steals map above — every
    // %-formatted number that lands in JSON must be locale-independent
    def num(fmt: String, v: Double): String =
      String.format(java.util.Locale.ROOT, fmt, Double.box(v))
    def line(names: Seq[String]): String = {
      val qs = names.flatMap(n => byName.get(n)
          .map(v => "\"" + n + "\":" + num("%.3f", v)))
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":${num("%.3f", total)},"unit":"sec","n":${ok.size},"failed":${failed.size},"steal_sec":${num("%.1f", stealSec)},"queries":$qs,"sf":"${new java.io.File(sfDir).getName}"}"""
    }
    val out = {
      val l = line(headline)
      if (l.length <= 1900) l else line(headline.filter(_.startsWith("q_")))
    }
    println(out)
    spark.stop()
  }
}
