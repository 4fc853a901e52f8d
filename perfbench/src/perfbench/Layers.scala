package perfbench

/** Per-layer figures of a traced run, from its spans. A layer is the set
  * of spans of one public entry point; Spark stages count toward the call
  * span that launched their job. Layers a workload never calls read 0. */
object Layers {
  import Trace._

  val BuildCalls = Set("IndexBuild.writeIndex", "StreamIngest.ingestBatch")
  val BatchCalls = Set("QueryEngine.runOnHandle", "QueryEngine.runOnIndex")

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def metrics(tr: Trace): Seq[(String, Double, String)] = {
    val calls = tr.calls.toSeq
    def named(n: String, role: String = "") =
      calls.filter(c => c.name == n && (role.isEmpty || c.role == role))
    def attr(cs: Seq[Call], k: String) = cs.map(_.attrs.getOrElse(k, 0.0))

    // builds: map side = stages that write shuffle, reduce side = stages
    // that only read it; the tail runs from the end of the stage reading
    // the most shuffle (the segment write) to the call's return
    val builds = calls.filter(c => BuildCalls(c.name))
    val bStages = builds.map(tr.stagesUnder)
    val tails = builds.zip(bStages).map { case (b, st) =>
      st.maxByOption(_.shR).map(s => (b.endMs - s.endMs) / 1e3).getOrElse(0.0)
    }

    // query batches: the timed loop's when it has any, else the gate's
    val allBatches = calls.filter(c => BatchCalls(c.name) && c.role != "first")
    val batches = { val ops = allBatches.filter(_.role == "op"); if (ops.nonEmpty) ops else allBatches }
    val qStages = batches.map(tr.stagesUnder)
    val blocksTotal = attr(batches, "blocks_total").sum
    // term-partitioned batches take either the pruned per-query WAND
    // route or the rebucketed batched scorer; only the latter feeds the
    // scorer's decode/contrib/score timers
    val termBatches = batches.filter(_.name == "QueryEngine.runOnIndex")
    val wandBatches = termBatches.filter(b => Seq("decode_ms", "contrib_ms", "score_ms")
      .forall(b.attrs.getOrElse(_, 0.0) == 0.0) && b.attrs.getOrElse("wand_calls", 0.0) > 0)

    // bytes the Spark stages under a call wrote (parquet output)
    def written(cs: Seq[Call]) = cs.map(tr.stagesUnder(_).map(_.outBytes.toDouble).sum).sum
    val cycles = named("StreamIngest.ingestBatch", "op")
    val rewrites = named("StreamIngest.tierUp", "op") ++ named("StreamIngest.compact", "op")
    val ingested = written(cycles)

    Seq(
      ("build_map_task_cpu_s", mean(bStages.map(_.filter(_.shW > 0).map(_.cpuS).sum)), "s"),
      ("build_shuffle_write_bytes", mean(bStages.map(_.map(_.shW.toDouble).sum)), "bytes"),
      ("build_reduce_task_cpu_s", mean(bStages.map(_.filter(s => s.shR > 0 && s.shW == 0).map(_.cpuS).sum)), "s"),
      ("build_gc_s", mean(bStages.map(_.map(_.gcS).sum)), "s"),
      ("jobs_per_build", mean(builds.map(tr.jobsUnder(_).size.toDouble)), "count"),
      ("build_tail_s", mean(tails), "s"),
      ("derive_s", mean(named("IndexBuild.deriveDocPartitioned").map(_.durMs / 1e3)), "s"),
      ("driver_ms_per_batch", mean(batches.map(tr.driverMs)), "ms"),
      ("jobs_per_batch", mean(batches.map(tr.jobsUnder(_).size.toDouble)), "count"),
      ("stages_per_batch", mean(qStages.map(_.size.toDouble)), "count"),
      ("fixed_probe_ms", Main.median(named("QueryEngine.probe").map(_.durMs)), "ms"),
      ("task_cpu_s_per_batch", mean(qStages.map(_.map(_.cpuS).sum)), "s"),
      ("decode_ms", mean(attr(batches, "decode_ms")), "ms"),
      ("contrib_ms", mean(attr(batches, "contrib_ms")), "ms"),
      ("score_ms", mean(attr(batches, "score_ms")), "ms"),
      ("merge_ms", mean(attr(batches, "merge_ms")), "ms"),
      ("docs_scored", mean(attr(batches, "docs_scored")), "count"),
      ("buckets_skipped", mean(attr(batches, "buckets_skipped")), "count"),
      ("blocks_decoded_ratio",
        if (blocksTotal == 0) 0.0 else attr(batches, "blocks_decoded").sum / blocksTotal, "ratio"),
      ("blocks_total", mean(attr(batches, "blocks_total")), "count"),
      ("open_s", mean(named("QueryEngine.openIndex").map(_.durMs / 1e3)), "s"),
      ("first_batch_s", mean(calls.filter(_.role == "first").map(_.durMs / 1e3)), "s"),
      ("shuffle_read_bytes_per_batch", mean(qStages.map(_.map(_.shR.toDouble).sum)), "bytes"),
      ("wand_calls", mean(attr(wandBatches, "wand_calls")), "count"),
      ("wand_route_share",
        if (termBatches.isEmpty) 0.0 else wandBatches.size.toDouble / termBatches.size, "ratio"),
      ("ingest_batch_s", mean(cycles.map(_.durMs / 1e3)), "s"),
      ("tier_up_s", mean(named("StreamIngest.tierUp", "op").map(_.durMs / 1e3)), "s"),
      ("compact_s", mean(named("StreamIngest.compact", "op").map(_.durMs / 1e3)), "s"),
      ("merges_performed", if (cycles.isEmpty) 0.0 else attr(rewrites, "merges").sum / cycles.size, "count"),
      ("bytes_rewritten_per_ingested_byte",
        if (ingested == 0) 0.0 else (written(rewrites) + attr(rewrites, "copied_bytes").sum) / ingested,
        "ratio"))
  }

  /** One row per call name: counts, wall, self time (span minus covered
    * children), driver time (span minus covered stages) and stage totals. */
  def table(tr: Trace): String = {
    val sb = new StringBuilder
    sb ++= f"  ${"layer (call)"}%-34s ${"calls"}%6s ${"wall_s"}%9s ${"self_s"}%9s ${"driver_s"}%9s " +
      f"${"jobs"}%6s ${"stages"}%7s ${"task_cpu_s"}%10s ${"gc_s"}%7s ${"shuf_w_MB"}%10s ${"shuf_r_MB"}%10s%n"
    tr.calls.toSeq.groupBy(_.name).toSeq.sortBy(_._2.head.startMs).foreach { case (name, cs) =>
      val st = cs.flatMap(tr.stagesUnder)
      sb ++= f"  $name%-34s ${cs.size}%6d ${cs.map(_.durMs).sum / 1e3}%9.3f " +
        f"${cs.map(tr.selfMs).sum / 1e3}%9.3f ${cs.map(tr.driverMs).sum / 1e3}%9.3f " +
        f"${cs.map(tr.jobsUnder(_).size).sum}%6d ${st.size}%7d ${st.map(_.cpuS).sum}%10.3f " +
        f"${st.map(_.gcS).sum}%7.3f ${st.map(_.shW).sum / 1048576.0}%10.2f " +
        f"${st.map(_.shR).sum / 1048576.0}%10.2f%n"
    }
    sb.toString
  }
}

/** Facts about the host recorded with every result. */
object Host {
  def facts(spark: org.apache.spark.sql.SparkSession): String = {
    import scala.jdk.CollectionConverters._
    val memKb = scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/meminfo")
      try src.getLines().find(_.startsWith("MemTotal:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
      finally src.close()
    }.getOrElse(0L)
    Json.obj(Seq(
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "mem_total_mb" -> memKb / 1024,
      "java" -> System.getProperty("java.version"),
      "spark" -> spark.version,
      "jvm_flags" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
        .asScala.filterNot(_.startsWith("--add-opens")).toSeq,
      "spark_conf" -> spark.conf.getAll.filter { case (k, _) =>
        !k.startsWith("spark.app.") && k != "spark.driver.host" && k != "spark.driver.port" &&
          k != "spark.executor.id"
      }.toSeq.sorted.toMap))
  }
}
