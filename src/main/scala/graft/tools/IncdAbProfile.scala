package graft.tools

import org.apache.spark.sql.SparkSession

/** Driver-time attribution for the incremental-dedup family regression
  * (VERDICT r14 #1b): runs the DECLARED query functions repeatedly with
  * a driver-stack sampler, printing per-rep wall / job count / job wall
  * / driver gap and the top graft driver frames — the r13→r14 stmts
  * rows show FEWER jobs and less task time but MORE wall, so the added
  * time is driver-side; this names the frames. */
object IncdAbProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = args.headOption.flatMap(_.toIntOption).getOrElse(4)
    val queries = {
      val named = args.filterNot(_.forall(_.isDigit))
      if (named.nonEmpty) named.toSeq
      else Seq("dedup_incremental", "dedup_incremental_patch",
        "dedup_xscale_patch", "sql_matview_where", "sql_changes")
    }
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.Tables.names.foreach(t =>
      graft.Tables(spark, sfDir, t).cache().count(): Unit)

    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val jobWallNs = new java.util.concurrent.atomic.AtomicLong
    // per-description job tallies: (count, wallNs) — names which engine
    // phase (graft:probe / graft:sample / graft:write / graft:collect*)
    // the wall moved to between variants
    val byDesc = new java.util.concurrent.ConcurrentHashMap[String, (Int, Long)]()
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet()
          val d = Option(e.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .getOrElse("<none>")
          starts.put(e.jobId, (System.nanoTime(), d)); ()
        }
        override def onJobEnd(
            e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          Option(starts.remove(e.jobId)).foreach { case (t0, d) =>
            val ns = System.nanoTime() - t0
            jobWallNs.addAndGet(ns)
            byDesc.merge(d, (1, ns),
              (a, b) => (a._1 + b._1, a._2 + b._2))
          }
          ()
        }
      })

    val main = Thread.currentThread()
    val hist = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    @volatile var sampling = false
    val sampler = new Thread(() => {
      while (true) {
        if (sampling) {
          val st = main.getStackTrace
          val frame = st.find(f => f.getClassName.startsWith("graft."))
            .map(f => f.getClassName.stripPrefix("graft.") + "." +
              f.getMethodName + ":" + f.getLineNumber)
            .getOrElse(st.headOption.map(f =>
              f.getClassName + "." + f.getMethodName).getOrElse("<idle>"))
          hist.merge(frame, 1, (a, b) => a + b)
        }
        Thread.sleep(2)
      }
    })
    sampler.setDaemon(true)
    sampler.start()

    def steal(): Long =
      try new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/stat")), "UTF-8")
        .linesIterator.next().trim.split("\\s+")(8).toLong
      catch { case _: Throwable => -1L }

    // seam matrix: HEAD vs the r13-equivalent behaviors of the two r14
    // engine-core changes suspected in the family regression —
    // probeFold off (band 0 → every build keeps its rowBound and the
    // old sample+write pair) and interpreted-always collects (the
    // pre-crossover default)
    val variants: Seq[(String, () => Unit, () => Unit)] = Seq(
      ("HEAD", () => (), () => ()),
      ("probeFold-off",
        () => graft.core.Ops.ProbeFoldMaxSourceRows = 0L,
        () => graft.core.Ops.ProbeFoldMaxSourceRows = 1L << 22),
      ("interp-always",
        () => graft.core.Canonical.InterpretedCollectMaxBytes = Long.MaxValue,
        () => graft.core.Canonical.InterpretedCollectMaxBytes = 16L << 20),
      ("both-off", () => {
        graft.core.Ops.ProbeFoldMaxSourceRows = 0L
        graft.core.Canonical.InterpretedCollectMaxBytes = Long.MaxValue
      }, () => {
        graft.core.Ops.ProbeFoldMaxSourceRows = 1L << 22
        graft.core.Canonical.InterpretedCollectMaxBytes = 16L << 20
      }))

    // per-statement walls (the GraftSql probe the bench artifact uses):
    // pinpoints WHICH statement of a flow carries a variant delta
    val stmtBuf =
      scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    graft.sql.GraftSql.stmtProbe = Some { (sql, sec) =>
      stmtBuf.synchronized { stmtBuf += ((sql, sec)); () }
    }

    queries.foreach { q =>
      val fn = graft.SparkEntry.queries(q)
      fn(spark, sfDir).count(): Unit // warm (side-store base builds etc.)
      hist.clear()
      val samples = scala.collection.mutable.Map
        .empty[String, Vector[Double]].withDefaultValue(Vector.empty)
      (1 to reps).foreach { i =>
        // rotate the order per rep: a fixed order biases the first
        // variant with cold-start / GC-debt effects
        val rotated = variants.drop((i - 1) % variants.size) ++
          variants.take((i - 1) % variants.size)
        rotated.foreach { case (vl, set, unset) =>
          jobs.set(0); jobWallNs.set(0L); byDesc.clear()
          stmtBuf.synchronized { stmtBuf.clear() }
          org.apache.spark.sql.GraftBridge.drainListenerBus(spark.sparkContext)
          val s0 = steal()
          set()
          // sampling stays OFF during variant comparison: getStackTrace
          // on the live driver thread is a safepoint pause every 2 ms —
          // measured ~10-15% overhead that systematically penalized
          // whichever variant was sampled. Pass "sample" as an arg to
          // re-enable for frame attribution (accepting the overhead).
          sampling = vl == "HEAD" && args.contains("sample")
          val t0 = System.nanoTime()
          try fn(spark, sfDir).count(): Unit
          finally { sampling = false; unset() }
          val wall = (System.nanoTime() - t0) / 1e9
          org.apache.spark.sql.GraftBridge.drainListenerBus(spark.sparkContext)
          val sd = if (s0 < 0) -1 else steal() - s0
          samples(vl) = samples(vl) :+ wall
          println(f"[$q] rep $i [$vl%-14s] wall $wall%6.3f s jobs=${jobs.get} " +
            f"jobWall ${jobWallNs.get / 1e9}%6.3f s gap ${wall - jobWallNs.get / 1e9}%6.3f s steal=${sd}cs")
          if (true) {
            import scala.jdk.CollectionConverters._
            byDesc.asScala.toSeq.sortBy(-_._2._2).foreach { case (d, (n, ns)) =>
              println(f"[$q]      ${ns / 1e6}%7.1f ms x$n%-3d $d")
            }
            stmtBuf.synchronized(stmtBuf.toList).foreach { case (sql, sec) =>
              println(f"[$q]      stmt ${sec * 1000}%7.1f ms  ${sql.trim
                .replaceAll("\\s+", " ").take(64)}")
            }
          }
        }
      }
      variants.foreach { case (vl, _, _) =>
        val ss = samples(vl)
        println(f"[$q] == $vl%-14s min ${ss.min}%6.3f s  " +
          ss.map(s => f"$s%.3f").mkString(", "))
      }
      import scala.jdk.CollectionConverters._
      hist.asScala.toSeq.sortBy(-_._2).take(14).foreach { case (f, n) =>
        println(f"[$q]   ${n * 2}%6d ms  $f")
      }
    }
    spark.stop()
  }
}
