package perfbench

/** The frozen definition of the three workloads. */
object Workloads {
  val names: Seq[String] = Seq("edf_ingest", "interactive", "batch_heavy")

  /** Tables each workload's queries read; only these are generated and
    * registered, which keeps set-up short. A query that starts reading
    * another table fails with a missing-table error and must be added. */
  def tables(workload: String): Seq[String] = workload match {
    case "interactive" => Seq("documents", "embeddings", "events")
    case "batch_heavy" => Seq("documents", "embeddings", "lineitem", "orders")
    case _ => Nil
  }

  /** Scale factor of the star-schema tables a workload reads
    * (`Gen.tableRows`). batch_heavy's share of op time with no stage
    * running is 42 % at 0.01 (500 documents), 30 % at 0.03 and 18 % at
    * 0.06 on 4 cores; 0.02 keeps stages running most of the time while a
    * whole run fits the benchmark's time budget. */
  def tableScale(workload: String): Double = workload match {
    case "batch_heavy" => 0.02
    case _ => 0.01
  }

  /** Fewest timed passes of an untraced run. A first timed pass still runs
    * about 10 % slow on a JVM that is still compiling; batch_heavy's 6.6 s
    * passes fit only two into 10 s, so it makes three and `wall_s`, their
    * median, leaves the slow one out. */
  def minPasses(workload: String): Int = if (workload == "batch_heavy") 3 else 2

  /** 12 of the 74 declared queries that took under 0.5 s each in a
    * `graft.Bench` run at sf0.1 on local[4], spread over that run's time
    * rank and over the operator modules: per-query fixed cost (analysis,
    * optimization, planning, job scheduling) dominates them. All 74 do not
    * fit the run time; the full list is in perfbench/README.md. */
  val interactive: Seq[String] = Seq(
    "sample_weighted", "skew_profile", "mmr_select", "pivot_events", "dedup_exact", "entropy_score",
    "corpus_shuffle", "window_funnel", "retention", "ts_ohlc", "ts_corr", "normalize_text")

  /** 4 of the 14 declared queries that took at least 2 s at sf0.1 on
    * local[4] (full list in perfbench/README.md): the iterative PageRank,
    * and one query of each module whose heavy operators the interactive
    * workload does not reach: operator compute, shuffle and per-iteration
    * jobs. */
  val batchHeavy: Seq[String] = Seq("graph_pagerank", "jaccard_join_exact", "pq_whiten", "bpe_encode")

  /** Operator module that implements each query (from `SparkEntry`). */
  val module: Map[String, String] = Map(
    "graph_pagerank" -> "Analytics", "pivot_events" -> "Analytics", "skew_profile" -> "Analytics",
    "bpe_encode" -> "Bpe",
    "jaccard_join_exact" -> "Dedup",
    "retention" -> "EventAnalytics", "window_funnel" -> "EventAnalytics",
    "corpus_shuffle" -> "Sampling", "sample_weighted" -> "Sampling",
    "mmr_select" -> "Similarity", "pq_whiten" -> "Similarity",
    "dedup_exact" -> "TextAnalysis", "entropy_score" -> "TextAnalysis",
    "normalize_text" -> "TextAnalysis",
    "ts_corr" -> "TimeSeries", "ts_ohlc" -> "TimeSeries")

  /** Queries whose result is compared by row count and schema only, with
    * the reason their values are not reproducible run to run. */
  val countAndSchemaOnly: Map[String, String] = Map(
    "pq_whiten" -> "codes depend on float32 whitening moments summed in partition-arrival order")

  /** Records an `interactive` EDF+D segment read covers: the shortest
    * segment's length, so every such read does the same work. */
  val SegmentWindow = 100

  /** The EDF recordings a workload lands in setup, keyed by role. */
  def recordings(workload: String, dir: String, rnd: java.util.Random): Map[String, EdfRecording] =
    workload match {
      case "edf_ingest" =>
        // session A: contiguous 8-channel recording; session B: a later
        // EDF+D recording whose first 7 channels fuzzy-match A's (same
        // name, rate 252 vs 256 Hz: 1.6 % apart) and whose last does not
        val n = 2048
        val a = EdfRecording(s"$dir/a.edf", (0 until 8).map(i => f"ch$i%03d"), IndexedSeq.fill(8)(256),
          n, Gen.Epoch2024Us, IndexedSeq((0, 0L)), rnd.nextLong())
        val bStart = a.startUs + (n + 60L + rnd.nextInt(540)) * 1000000L
        val b = EdfRecording(s"$dir/b.edf", (0 until 7).map(i => f"ch$i%03d") :+ "aux007",
          IndexedSeq.fill(7)(252) :+ 256, n, bStart,
          Gen.segments(rnd, n, 4 + rnd.nextInt(5), n / 16), rnd.nextLong())
        Map("a" -> a, "b" -> b)
      case "interactive" =>
        val c = EdfRecording(s"$dir/c.edf", (0 until 16).map(i => f"eeg$i%02d"), IndexedSeq.fill(16)(256),
          600, Gen.Epoch2024Us, IndexedSeq((0, 0L)), rnd.nextLong())
        val d = EdfRecording(s"$dir/d.edf", (0 until 8).map(i => f"ecg$i%02d"), IndexedSeq.fill(8)(256),
          1200, Gen.Epoch2024Us + 86400L * 1000000L, Gen.segments(rnd, 1200, 6, SegmentWindow), rnd.nextLong())
        Map("c" -> c, "d" -> d)
      case _ => Map.empty
    }
}
