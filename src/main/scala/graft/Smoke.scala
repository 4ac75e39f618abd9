package graft

/** Dev smoke runner: mirrors the driver's t1 gate (entry rows>0) and dumps
  * one physical plan so scan pruning / join strategy can be eyeballed.
  * `x242edges <sfDir>` dumps x242's kernel kNN edge frame instead: that
  * frame is built inside a Layer, so the query plan shows only its
  * checkpointed consumer.
  * Usage: sbt "runMain graft.Smoke [queryName|x242edges sfDir]"
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Session.local(8)
    val df = SparkEntry.entry(spark)
    val rows = df.collect()
    println(s"[smoke] entry rows=${rows.length}")
    rows.take(5).foreach(r => println(s"[smoke] $r"))
    args match {
      case Array("x242edges", dir) =>
        graft.ext.Similarity.mutualKnnEdges(spark, dir).explain("formatted")
      case Array(name, dir) =>
        val q = SparkEntry.queries(name)(spark, dir)
        q.explain("formatted")
        println(s"[smoke] $name rows=${q.count()}")
      case _ =>
    }
    spark.stop()
  }
}
