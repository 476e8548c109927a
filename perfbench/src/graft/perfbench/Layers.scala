package graft.perfbench

import org.apache.spark.sql.functions.col

/** Per-layer metrics of a traced run, named `<layer>.<what>`:
  *
  *  - `memo.serve.*`, `memo.analyze.*`: the reader's traced calls — calls
  *    per route (from `lastServeRoute`), per-route median wall, Spark jobs
  *    and tasks per call, and driver gap (span wall no job covered).
  *  - `memo.commit.*`, `memo.maintain.*`: the writer's calls (the timed
  *    writer on memo_ingest, the set-up on memo_read); bytes per user
  *    byte come from the set-up appends, which run with no reader.
  *  - `ops.<family>.bytes_written`: what the set-up's `maintain()` wrote
  *    into each artifact family's directory.
  *  - `filter.*`: `FilterAlgebra.compile` (parse included) per call, and
  *    segments kept/total per filter class from `segmentPrune` on the
  *    set-up store.
  *  - `functions.*_ns`: the kernel leg ([[Kernels]]).
  *  - `trace.*`: tracing overhead (median traced minus untraced recall
  *    wall, alternate reader cycles) and how much of the reader's wall
  *    the recorded spans cover. */
object Layers {
  def metrics(b: MemoBench, su: SetupResult, reads: Seq[ReadOp],
      recallAt10: Double, segs: Seq[(Filter, (Int, Int))], tracer: Tracer,
      readerWallS: Double)
      : Seq[(String, Double, String)] = {
    val costs = tracer.costs()
    val reader = costs.find(_.span.name == "reader").map(_.span)
    def inReader(c: SpanCost) =
      reader.exists(r => c.span.t0 >= r.t0 && c.span.t1 <= r.t1)
    val serve = costs.filter(c => c.span.name == "memo.serve")
    val analyze = costs.filter(c => c.span.name == "memo.analyze")
    val routes = reads.filter(r => r.kind == "serve" && r.traced)
      .groupBy(_.route)
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def routeP50(r: String) = med(routes.getOrElse(r, Seq.empty).map(_.ms))
    val writes = costs.filter(c => c.span.name == "memo.append" && inReader(c))
    val commits = if (writes.nonEmpty) writes
      else costs.filter(_.span.name == "memo.append")
    val maints0 = costs.filter(c => c.span.name == "memo.maintain" && inReader(c))
    val maints = if (maints0.nonEmpty) maints0
      else costs.filter(_.span.name == "memo.maintain")

    val exprs = b.analyzeFilters.map(_.expr) ++
      Seq(b.tsFilter.expr, b.sourceFilter.expr)
    val compileUs = {
      val meta = col("metadata")
      (0 until 200).foreach(i => graft.filter.FilterAlgebra.compile(exprs(i % exprs.size), meta))
      med((0 until 15).map { _ =>
        val t0 = System.nanoTime()
        exprs.foreach(e => graft.filter.FilterAlgebra.compile(e, meta))
        (System.nanoTime() - t0) / 1e3 / exprs.size
      })
    }
    val segments = segs.flatMap { case (f, (kept, total)) =>
      Seq((s"filter.${f.name}.segments_kept", kept.toDouble, "count"),
        (s"filter.${f.name}.segments_total", total.toDouble, "count"))
    }
    val kernels = Kernels.run(b.docs.take(2000).map(_.body).toIndexedSeq,
      b.queries.head).map { case (k, ns) => (s"functions.${k}_ns", ns, "ns") }

    val tracedRecall = reads.filter(r => r.kind == "serve" && r.traced).map(_.ms)
    val plainRecall = reads.filter(r => r.kind == "serve" && !r.traced).map(_.ms)
    val readerSpans = costs.filter(c => inReader(c) && c.span.parent == reader.get.id)
    val untracedMs = reads.filter(!_.traced).map(_.ms).sum
    val cover = (readerSpans.map(_.span.ms).sum + untracedMs) / (readerWallS * 1e3)

    val allRecalls = reads.filter(_.kind == "serve").map(_.ms)
    Seq(
      ("recall_p90_ms", Stats.quantile(allRecalls, 0.9), "ms"),
      ("recall_at_10", recallAt10, "ratio"),
      ("memo.serve.brute.calls", routes.getOrElse("brute", Seq.empty).size.toDouble, "count"),
      ("memo.serve.ann.calls", routes.getOrElse("ann", Seq.empty).size.toDouble, "count"),
      ("memo.serve.pq.calls", routes.getOrElse("pq", Seq.empty).size.toDouble, "count"),
      ("memo.serve.brute.p50_ms", routeP50("brute"), "ms"),
      ("memo.serve.ann.p50_ms", routeP50("ann"), "ms"),
      ("memo.serve.jobs_per_call", med(serve.map(_.jobs.toDouble)), "count"),
      ("memo.serve.tasks_per_call", med(serve.map(_.tasks.toDouble)), "count"),
      ("memo.serve.driver_gap_ms", med(serve.map(_.driverGapMs)), "ms"),
      ("memo.analyze.jobs_per_call", med(analyze.map(_.jobs.toDouble)), "count"),
      ("memo.analyze.driver_gap_ms", med(analyze.map(_.driverGapMs)), "ms"),
      ("memo.commit.jobs", med(commits.map(_.jobs.toDouble)), "count"),
      ("memo.commit.bytes_per_user_byte", med(su.appendBytesPerUserByte), "ratio"),
      ("memo.maintain.ms", med(maints.map(_.span.ms)), "ms"),
      ("memo.maintain.jobs", med(maints.map(_.jobs.toDouble)), "count")) ++
      su.familyBytes.map { case (f, n) => (s"ops.$f.bytes_written", n.toDouble, "bytes") } ++
      Seq(("filter.compile_us", compileUs, "us")) ++ segments ++ kernels ++
      Seq(("trace.overhead_ms", med(tracedRecall) - med(plainRecall), "ms"),
        ("trace.reader_cover", cover, "ratio"),
        ("trace.reattributed_jobs", tracer.reattributed.toDouble, "count"))
  }
}
