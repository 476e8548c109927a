package graft.perfbench

import java.nio.file.{Files => JFiles, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.functions.col

/** Entry point of the repo benchmark (see perfbench/README.md):
  *
  * {{{
  * Main --workload memo_read|memo_ingest --seed N --seconds S --trace 0|1
  *      --run-dir DIR --cpus N [--trace-out FILE]
  * }}}
  *
  * Prints one `{"record": …}` line describing the inputs and then, as the
  * last line, the result object: end-to-end metrics with `--trace 0`,
  * per-layer metrics with `--trace 1`. Exits 1 when an output check
  * failed. */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cfg = Config(a("workload"), a("seed").toLong, a("seconds").toInt,
      a("trace") == "1", Paths.get(a("run-dir")), a("cpus").toInt,
      a.get("trace-out").map(Paths.get(_)))
    require(Set("memo_read", "memo_ingest").contains(cfg.workload),
      s"unknown workload ${cfg.workload}")
    val ok = run(cfg)
    System.exit(if (ok) 0 else 1)
  }

  private def m(v: Double, unit: String): String =
    Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(unit)))

  def run(cfg: Config): Boolean = {
    import Sizes._
    val b = new MemoBench(cfg)
    val ingest = cfg.workload == "memo_ingest"

    // --- set-up, several times; the last one's store is the one measured
    val setups = (0 until SetupReps).map { r =>
      val s = b.setup(r, cfg.trace && r == SetupReps - 1)
      System.err.println(f"[perfbench] setup $r: ${s.seconds}%.2f s (session " +
        f"${s.sessionMs}%.0f, save ${s.saveMs}%.0f, appends ${s.appendMs.sum}%.0f, " +
        f"maintain ${s.maintainMs}%.0f ms)")
      if (r < SetupReps - 1) { s.tracer.close(); s.spark.stop() }
      s
    }
    val su = setups.last
    val spark = su.spark
    val tracer = su.tracer
    val engine = su.engine
    val segs = Seq(b.tsFilter, b.sourceFilter).map(f => f -> engine.segmentPrune(f.expr))

    // --- warm-up: one untimed reader cycle
    (0 until CycleOps).foreach(i => b.readStep(engine, tracer, i, traced = false))
    val attemptedBefore = b.attempted

    // --- timed phase
    val deadline = System.nanoTime() + cfg.seconds * 1000000000L
    val writeMs = ArrayBuffer.empty[Double]
    val maintainMs = ArrayBuffer.empty[Double]
    @volatile var writerDone = !ingest
    var writerWallS = 0.0
    val writer = if (!ingest) None else Some(new Thread(() => {
      val w = new graft.memo.MemoEngine(spark, su.store.toString)
      val t0 = System.nanoTime()
      val cycles = math.max(1, math.round(cfg.seconds.toDouble / CycleSeconds).toInt)
      try (0 until cycles).foreach { c =>
        (0 until MaintainEvery).foreach { j =>
          writeMs += b.append(spark, w, tracer, c * MaintainEvery + j)
        }
        b.attempt()
        maintainMs += Stats.timeMs(
          tracer.span("memo.maintain", writes = true)(w.maintain()))._2
      } catch { case e: Exception => b.fail(s"writer: $e") }
      writerWallS = (System.nanoTime() - t0) / 1e9
      writerDone = true
    }, "perfbench-writer"))
    val r0 = System.nanoTime()
    writer.foreach(_.start())
    val reads = tracer.span("reader") {
      b.readLoop(engine, tracer,
        () => if (ingest) writerDone else System.nanoTime() >= deadline)
    }
    val readerWallS = (System.nanoTime() - r0) / 1e9
    writer.foreach(_.join())
    val timedAttempted = b.attempted - attemptedBefore

    // --- output checks, outside the timed region
    b.checkReads(engine, reads.toSeq)
    // traced runs: recall@10 of the first rounds' recalls against exact
    // recall on the store they were served from, so before memo_read's
    // write probe; memo_ingest serves those rounds afresh on its final store
    val recallAt10 =
      if (!cfg.trace) Double.NaN
      else b.recallAtK(engine,
        if (!ingest) reads.filter(_.round < CheckRounds).toSeq
        else (0 until CycleOps * CheckRounds).map(b.readStep(engine, tracer, _, traced = false)))
    val storeBytes = Files.bytes(su.store)
    val spaceAmp = storeBytes.toDouble / b.userBytes(b.docs)

    // memo_read has no timed writer: its commit figures come from a write
    // probe on the quiescent store, after the reader's checks
    val probeMs =
      if (ingest) Seq.empty[Double]
      else (0 until ProbeAppends).map(b.append(spark, engine, tracer, _))
    b.checkStore(spark, su.store, b.docs.size.toLong)

    val recalls = reads.filter(r => r.kind == "serve" && !r.traced).map(_.ms)
    val analyzes = reads.filter(r => r.kind == "analyze" && !r.traced).map(_.ms)
    val okReads = reads.count(_.kind != "error")

    val record = Json.obj(Seq(
      "workload" -> Json.str(cfg.workload), "seed" -> cfg.seed.toString,
      "cpus" -> cfg.cpus.toString, "trace" -> (if (cfg.trace) "1" else "0"),
      "base_docs" -> BaseDocs.toString,
      "setup_appends" -> SetupAppends.toString,
      "batch_rows" -> BatchRows.toString,
      "setup_rows" -> setupRows.toString,
      "ingest_batches" -> writeMs.size.toString,
      "maintain_every" -> (if (ingest) MaintainEvery.toString else "null"),
      "maintains" -> maintainMs.size.toString,
      "probe_appends" -> probeMs.size.toString,
      "final_rows" -> b.docs.size.toString,
      "setup_s_each" -> Json.arr(setups.map(s => Json.num(s.seconds))),
      "reader_ops" -> reads.size.toString,
      "reader_wall_s" -> Json.num(readerWallS),
      "writer_wall_s" -> Json.num(writerWallS),
      "filters" -> Json.arr((b.analyzeFilters ++ Seq(b.tsFilter, b.sourceFilter))
        .map(f => Json.obj(Seq("name" -> Json.str(f.name), "expr" -> Json.str(f.expr),
          "selectivity" -> Json.num(
            b.docs.count(f.matches).toDouble / b.docs.size)))).toSeq),
      "segments" -> Json.obj(segs.map { case (f, (k, t)) =>
        f.name -> Json.obj(Seq("kept" -> k.toString, "total" -> t.toString)) }),
      "store_bytes" -> storeBytes.toString,
      "timed_ops" -> timedAttempted.toString))
    println(Json.obj(Seq("record" -> record)))

    val metrics: Seq[(String, String)] =
      if (!cfg.trace) {
        val (commitMs, rowsPerS) =
          if (ingest) (writeMs.toSeq, writeMs.size * BatchRows / writerWallS)
          else (probeMs, probeMs.size * BatchRows / (probeMs.sum / 1e3))
        Seq(
          "setup_s" -> m(Stats.median(setups.map(_.seconds)), "s"),
          "recall_p50_ms" -> m(Stats.median(recalls.toSeq), "ms"),
          "analyze_p50_ms" -> m(Stats.median(analyzes.toSeq), "ms"),
          "read_ops_per_s" -> m(okReads / readerWallS, "1/s"),
          "ingest_rows_per_s" -> m(rowsPerS, "rows/s"),
          "commit_p50_ms" -> m(Stats.median(commitMs), "ms"),
          "space_amp" -> m(spaceAmp, "ratio"))
      } else Layers.metrics(b, su, reads.toSeq, recallAt10, segs, tracer,
        readerWallS).map { case (k, v, u) => k -> m(v, u) }

    cfg.traceOut.foreach { p =>
      val w = JFiles.newBufferedWriter(p)
      try tracer.jsonLines(s"${cfg.workload}-${cfg.seed}").foreach { l =>
        w.write(l); w.newLine() } finally w.close()
    }
    tracer.close()
    spark.stop()
    val correct = b.failed == 0
    println(Json.obj(Seq("correct" -> correct.toString,
      "attempted" -> math.max(1L, b.attempted).toString,
      "failed" -> b.failed.toString, "metrics" -> Json.obj(metrics))))
    correct
  }
}
