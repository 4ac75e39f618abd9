package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame

/** Dev-only incremental Layer profiler: materializes each Insta layer in
  * dependency order (noop sink, guide §1.4) and prints the INCREMENTAL
  * task seconds each one adds on top of its cached prerequisites.
  */
object ProfLayers {
  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val spark = Session.local(if (args.length > 1) args(1).toInt else 32)
    val taskMs = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null) taskMs.addAndGet(t.taskMetrics.executorRunTime)
    })
    import graft.insta.Insta
    def step(name: String)(f: => DataFrame): Unit = {
      org.apache.spark.graftshim.ListenerBridge.waitUntilListenerBusEmpty(spark.sparkContext)
      val t0m = taskMs.get(); val t0 = System.nanoTime()
      f.write.format("noop").mode("overwrite").save()
      org.apache.spark.graftshim.ListenerBridge.waitUntilListenerBusEmpty(spark.sparkContext)
      println(f"[players] $name%-24s wall ${(System.nanoTime() - t0) / 1e9}%7.2f s  task ${(taskMs.get() - t0m) / 1000.0}%8.2f s")
    }
    (1 to 2).foreach { rep =>
      println(s"[players] === rep $rep ===")
      Layer.clear(spark)
      step("ordersI")(Insta.ordersI(spark, dir))
      step("basket")(Insta.basket(spark, dir))
      step("productFeatures")(Insta.productFeatures(spark, dir))
      step("userOrderFeatures")(Insta.userOrderFeatures(spark, dir))
      step("userPriorFeatures")(Insta.userPriorFeatures(spark, dir))
      step("usersFinal")(Insta.usersFinal(spark, dir))
      step("userProductFeatures")(Insta.userProductFeatures(spark, dir))
      step("candidates(1)")(Insta.candidates(spark, dir, Seq(1L)))
      step("featureMatrix(1)")(Insta.featureMatrix(spark, dir, Seq(1L)))
      step("trainFeatures(cached)")(graft.ml.ReorderModel.assembledTrain(spark, dir))
    }
    spark.stop()
  }
}
