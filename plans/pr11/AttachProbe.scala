// Times IcebergNative.read, what Catalog.attach runs for an iceberg table,
// on an upsert-grown table (1 append of 1500 rows, 40 upserts of 200 keys).
// Compiled with the test classpath of a checkout, without adding it there:
//   sbt 'set Test/unmanagedSourceDirectories += file("<dir of this file>")' \
//     "Test/runMain AttachProbe build <table root>"
//   sbt ... "Test/runMain AttachProbe time <table root> <iterations>"
import graft.catalog.IcebergSink
import graft.sources.IcebergNative

/** Times IcebergNative.read (what Catalog.attach runs for iceberg) on an
  * upsert-grown table. args: build <root> | time <root> <iterations> */
object AttachProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.engine.Engine.session("local[4]")
    import spark.implicits._
    args(0) match {
      case "build" =>
        val root = args(1)
        val base = (1 to 1500).map(i => (i.toLong, s"seg${i % 5}", i * 1.5)).toDF("k", "s", "v")
        graft.catalog.Sinks.copyTo(base, root, "iceberg")
        val rnd = new scala.util.Random(7)
        (1 to 40).foreach { b =>
          val rows = (1 to 200).map { _ =>
            val k = rnd.nextInt(1900).toLong + 1; (k, s"seg${b % 5}", b * 1.0) }.distinctBy(_._1)
          IcebergSink.upsert(spark, root, rows.toDF("k", "s", "v"), Seq("k"))
        }
        println("built " + IcebergNative.snapshots(spark, root).count())
      case "time" =>
        val root = args(1); val n = args(2).toInt
        val jobs = new java.util.concurrent.atomic.AtomicInteger()
        spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
            jobs.incrementAndGet()
        })
        val ts = (1 to n).map { _ =>
          val t0 = System.nanoTime()
          IcebergNative.read(spark, root, Map.empty)
          (System.nanoTime() - t0) / 1e6
        }
        val sorted = ts.sorted
        println(s"PROBE jobs per read: ${jobs.get.toDouble / n}")
        println(f"PROBE first=${ts.head}%.1f median=${sorted(n / 2)}%.1f min=${sorted.head}%.1f all=${ts.map(t => f"$t%.1f").mkString(",")}")
    }
    spark.stop()
  }
}
