package graft

import org.apache.spark.scheduler._

/** Dev-only per-job profiler: runs one named query (optionally N times)
  * and prints, for every Spark job it submitted, the job's description,
  * wall time, cumulative executor task time, and task count — the
  * job-level breakdown the bench's per-query totals can't show. Used to
  * attribute the m-family's task seconds to specific fit/scan phases
  * (guide §1: measure first, then optimize the dominant stage).
  *
  * Usage: tools/scale_run.sh graft.Prof <query> <sfDir> [reps] [cpus]
  */
object Prof {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 1
    val spark = Session.local(
      if (args.length > 3) args(3).toInt else Session.envCpus(32))

    case class Stg(id: Int, name: String,
                   var taskMs: Long = 0L, var nTasks: Int = 0,
                   var maxTaskMs: Long = 0L, var gcMs: Long = 0L,
                   var deserMs: Long = 0L, var cpuNs: Long = 0L)
    val stages = new java.util.concurrent.ConcurrentHashMap[Int, Stg]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageSubmitted(ss: SparkListenerStageSubmitted): Unit = {
        val info = ss.stageInfo
        // prefer the first graft frame from the long call site — the
        // generic future-wrapper short form hides which operator owns a
        // broadcast-build stage
        val graftLine = info.details.linesIterator
          .find(l => l.contains("graft.") && !l.contains("graft.Prof"))
          .map(_.trim.take(90)).getOrElse("")
        val nm = if (graftLine.nonEmpty) s"${info.name.take(40)} | $graftLine"
          else info.name.take(110)
        stages.putIfAbsent(info.stageId, Stg(info.stageId, nm))
      }
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val j = stages.get(te.stageId)
        if (j != null && te.taskMetrics != null) j.synchronized {
          j.taskMs += te.taskMetrics.executorRunTime
          j.nTasks += 1
          j.maxTaskMs = math.max(j.maxTaskMs, te.taskMetrics.executorRunTime)
          j.gcMs += te.taskMetrics.jvmGCTime
          j.deserMs += te.taskMetrics.executorDeserializeTime
          j.cpuNs += te.taskMetrics.executorCpuTime
        }
      }
    })

    // -Dgraft.prof.dumpAfterMs=N[,N2,...]: print all executor-thread stacks
    // N ms after start — in-process substitute for jstack (attach is blocked
    // in this sandbox).
    sys.props.get("graft.prof.dumpAfterMs").foreach { spec =>
      val delays = spec.split(',').map(_.trim.toLong)
      val t = new Thread(() => {
        var prev = 0L
        delays.foreach { d =>
          Thread.sleep(d - prev); prev = d
          println(s"[prof] ==== thread dump at ${d}ms ====")
          import scala.jdk.CollectionConverters._
          Thread.getAllStackTraces.asScala.foreach { case (th, st) =>
            if (th.getName.contains("Executor task launch")) {
              println(s"[prof] thread ${th.getName} state=${th.getState}")
              st.take(14).foreach(f => println(s"[prof]     at $f"))
            }
          }
        }
      })
      t.setDaemon(true); t.start()
    }
    // -Dgraft.prof.sample=1: sample executor threads every 100 ms for the
    // whole run; at exit print a histogram of the topmost "interesting"
    // frame per sample — a poor man's async-profiler for blocked time.
    val sampleHist = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    if (sys.props.get("graft.prof.sample").contains("1")) {
      val t = new Thread(() => {
        import scala.jdk.CollectionConverters._
        while (true) {
          Thread.sleep(100)
          Thread.getAllStackTraces.asScala.foreach { case (th, st) =>
            if (th.getName.contains("Executor task launch") && st.nonEmpty) {
              // first frame that is NOT low-level JDK parking/locking
              val f = st.find { fr =>
                val c = fr.getClassName
                !c.startsWith("jdk.") && !c.startsWith("java.") &&
                  !c.startsWith("scala.concurrent") && !c.startsWith("sun.")
              }.map(fr => s"${fr.getClassName.split('.').last}.${fr.getMethodName}")
                .getOrElse(st.head.getClassName + "." + st.head.getMethodName)
              val key = s"${th.getState}:$f"
              sampleHist.merge(key, 1, (a, b) => a + b)
            }
          }
        }
      })
      t.setDaemon(true); t.start()
    }
    (1 to reps).foreach { r =>
      stages.clear()
      Layer.clear(spark) // cold per rep: attribute the whole DAG
      val t0 = System.nanoTime()
      val n = SparkEntry.queries(name)(spark, dir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      org.apache.spark.graftshim.ListenerBridge
        .waitUntilListenerBusEmpty(spark.sparkContext)
      println(f"[prof] rep $r $name rows=$n wall=$wall%.2f s")
      import scala.jdk.CollectionConverters._
      val js = stages.values().asScala.toSeq.sortBy(_.id)
      val totTask = js.map(_.taskMs).sum / 1000.0
      println(f"[prof] stages=${js.size} total task=${totTask}%.1f s gc=${js.map(_.gcMs).sum / 1000.0}%.1f s deser=${js.map(_.deserMs).sum / 1000.0}%.1f s cpu=${js.map(_.cpuNs).sum / 1e9}%.1f s")
      js.filter(_.taskMs >= 100).foreach { j =>
        println(f"[prof]   stg ${j.id}%4d task ${j.taskMs / 1000.0}%8.2f s cpu ${j.cpuNs / 1e9}%7.2f maxtask ${j.maxTaskMs / 1000.0}%6.2f gc ${j.gcMs / 1000.0}%5.2f n=${j.nTasks}%5d  ${j.name}")
      }
      val small = js.filter(_.taskMs < 100)
      if (small.nonEmpty)
        println(f"[prof]   (+${small.size} stages under 100ms task, sum ${small.map(_.taskMs).sum / 1000.0}%.2f s)")
    }
    if (!sampleHist.isEmpty) {
      import scala.jdk.CollectionConverters._
      println("[prof] ==== sample histogram (100ms samples x executor threads) ====")
      sampleHist.asScala.toSeq.sortBy(-_._2).take(30).foreach { case (k, n) =>
        println(f"[prof]   $n%6d  $k")
      }
    }
    spark.stop()
  }
}
