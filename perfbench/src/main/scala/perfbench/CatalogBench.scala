package perfbench

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.{BuildLedger, Catalog, Materialize, QueryDef}

/** One timed query execution: [start, built) inside `QueryDef.run`,
  * [built, end) inside `Materialize`. */
private final case class Timed(name: String, start: Long, built: Long, end: Long,
                               ok: Boolean, pass: Int, trace: Long, span: Long)

/** The catalog workloads: `QueryDef.run` then `Materialize` for each
  * listed query, in `Catalog` order.
  *
  * Set-up runs whole passes over the list, untimed: the first builds the
  * shared artifacts (k-NN edges, BFS sweeps, pair tables) into the run's
  * own directories and compiles the generated code; more passes follow
  * until `seconds / 2` have passed since it ended, to warm the JIT, which
  * otherwise keeps speeding passes up for about ten seconds. The timed
  * region then runs whole passes until another `seconds` have passed. The
  * check pass afterwards writes each query's ordered result over the same
  * tables, through the same artifacts, for run.py's compare with the
  * DuckDB oracle twins. */
final class CatalogBench(spark: SparkSession, dataDir: String, names: Seq[String],
                         seconds: Int, work: String, spans: Spans,
                         listener: Option[LayerListener]) {
  val cores: Int = spark.sparkContext.defaultParallelism
  val defs: Seq[QueryDef] = {
    val known = Catalog.all.map(_.name).toSet
    val missing = names.filterNot(known)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(", ")}")
    Catalog.all.filter(d => names.contains(d.name))
  }

  def run(): Outcome = {
    val artifactConfs = Seq("pairs", "knn", "bfs", "fixture").map(k => s"graft.$k.dir")
    artifactConfs.foreach { k =>
      val d = new java.io.File(s"$work/artifacts/$k"); d.mkdirs()
      spark.conf.set(k, d.getAbsolutePath)
    }
    val errors = Seq.newBuilder[String]
    val setupMark = BuildLedger.mark()
    def setupPass(n: Int): Unit = defs.foreach { d =>
      try Materialize(d.run(spark, dataDir))
      catch { case NonFatal(e) => errors += s"${d.name} (set-up pass $n): ${e.getClass.getName}" }
    }
    setupPass(0)
    val w0 = System.nanoTime()
    var warm = 1
    while (System.nanoTime() - w0 < seconds * 500000000L) { setupPass(warm); warm += 1 }
    val setupBuilds = BuildLedger.since(setupMark)
    val setupEnd = Clock.now()

    val passMark = BuildLedger.mark()
    val t0 = System.nanoTime()
    val cpu0 = Main.cpuJiffies()
    val timed = Seq.newBuilder[Timed]
    var pass = 0
    while (pass == 0 || System.nanoTime() - t0 < seconds * 1000000000L) {
      defs.zipWithIndex.foreach { case (d, i) =>
        val trace = pass * defs.size + i + 1L
        val s = Clock.now()
        var b = s
        val ok =
          try {
            val df = d.run(spark, dataDir)
            b = Clock.now()
            Materialize(df)
            true
          } catch {
            case NonFatal(e) =>
              errors += s"${d.name}: ${e.getClass.getName}: ${String.valueOf(e.getMessage).take(200)}"
              false
          }
        val e = Clock.now()
        if (b == s) b = e
        val root = spans.add(0, trace, s"query ${d.name}", s, e)
        spans.add(root, trace, "queries.build", s, b)
        spans.add(root, trace, "queries.action", b, e)
        timed += Timed(d.name, s, b, e, ok, pass, trace, root)
      }
      pass += 1
    }
    val rss = Main.peakRssMb()
    val stealFrac = Main.stealFrac(cpu0, Main.cpuJiffies())
    val passBuilds = BuildLedger.since(passMark)
    val runs = timed.result()
    listener.foreach { l =>
      l.drain(spark)
      runs.foreach { r =>
        l.jobsIn(r.start, r.end).foreach { j =>
          spans.add(r.span, r.trace, s"sched.job ${j.id}", j.start,
            if (j.end > 0) j.end else j.start)
        }
      }
    }

    // Output check pass: untimed, outside set-up, on the plans and
    // artifacts the timed passes used. The DuckDB compare itself runs in
    // run.py over these files.
    val checkDir = s"$work/check"
    defs.foreach { d =>
      try d.runOrdered(spark, dataDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$checkDir/${d.name}")
      catch { case NonFatal(e) => errors += s"${d.name} (check): ${e.getClass.getName}" }
    }
    val oracle = Catalog.oracleSql.filter { case (k, _) => names.contains(k) }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$checkDir/oracle_sql.json"),
      Json.obj(oracle.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) }))

    // Minimum over passes: the host's other tenants only ever add time
    // (see host.steal_frac), so the fastest pass is the least disturbed.
    val okRuns = runs.filter(_.ok)
    val passTotals = okRuns.groupBy(_.pass).toSeq.sortBy(_._1)
      .map(_._2.map(r => (r.end - r.start) / 1e9).sum)
    val perQuery = okRuns.groupBy(_.name).map { case (n, rs) =>
      n -> rs.map(r => (r.end - r.start) / 1e9).min }
    val e2e = Seq(
      "setup_s" -> 0.0, // filled in by Main
      "peak_rss_mb" -> rss,
      "work_s" -> (if (passTotals.isEmpty) 0.0 else passTotals.min),
      "p50_ms" -> Stats.median(perQuery.values.toSeq) * 1e3)
    val layers = Seq.newBuilder[(String, Double)]
    passTotals.zipWithIndex.foreach { case (t, i) => layers += s"queries.pass_s.$i" -> t }
    perQuery.toSeq.sortBy(_._1).foreach { case (n, s) => layers += s"queries.wall_s.$n" -> s }
    layers += "queries.build_s" -> runs.map(r => (r.built - r.start) / 1e9).sum
    layers += "queries.action_s" -> runs.map(r => (r.end - r.built) / 1e9).sum
    layers += "queries.count" -> runs.size.toDouble
    layers += "queries.failed" -> runs.count(!_.ok).toDouble
    layers += "ledger.setup_builds" -> setupBuilds.size.toDouble
    layers += "ledger.setup_build_s" -> setupBuilds.map(_._2).sum
    layers += "ledger.pass_builds" -> passBuilds.size.toDouble
    layers += "host.steal_frac" -> stealFrac
    listener.foreach(l => layers ++= LayerMetrics(l, runs.map(r => (r.start, r.end)), cores))
    val failedByQuery = runs.filterNot(_.ok).groupBy(_.name).map { case (n, rs) => n -> rs.size }
    Outcome(setupEnd, e2e, layers.result(), runs.size.toLong, failedByQuery.values.sum,
      errors.result(), Some(checkDir), pass, failedByQuery)
  }
}
