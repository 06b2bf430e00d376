package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}

import graft.sources.Sources
import graft.streaming.Streams

/** The six declared stream replays run on a session of their own: the
  * caller's session keeps its conf and catalog, its stream listeners still
  * see each replay, and a replay answers the same twice. */
class StreamReplaySpec extends SparkSpec {
  private val replays = Seq("x_tws_sessions", "x_stream_join", "x_stream_join_outer",
    "x_tws_totals", "x_tws_bootstrap", "x_tws_topk")

  /** Reads the caller's session partition count at every start it sees. */
  private class Starts extends StreamingQueryListener {
    @volatile var partitions = Vector.empty[String]
    override def onQueryStarted(e: QueryStartedEvent): Unit =
      partitions :+= spark.conf.get("spark.sql.shuffle.partitions")
    override def onQueryProgress(e: QueryProgressEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  private def run(name: String): Seq[String] =
    ExtensionQueries.builders(name)(spark, sfDir).collect().toSeq.map(_.toString).sorted

  private def sinkViews: Seq[String] =
    spark.catalog.listTables().collect().toSeq.map(_.name).filter(_.matches("x_.*_sink"))

  replays.foreach { name =>
    test(s"$name leaves the session's conf and catalog as they were, and its listeners see it start") {
      // the fixture's first registration sets a parquet read option on the session
      Sources.register(spark, sfDir)
      val conf = spark.conf.getAll
      val starts = new Starts
      spark.streams.addListener(starts)
      val rows = try run(name) finally spark.streams.removeListener(starts)
      assert(starts.partitions === Vector("4"))
      assert(spark.conf.getAll === conf)
      assert(sinkViews.isEmpty)
      assert(rows.nonEmpty)
      assert(run(name) === rows)
    }
  }

  test("x_stream_join_outer emits its null-padded rows after userActivity disabled no-data batches") {
    val key = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prev = spark.conf.getOption(key)
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    Sources.register(spark, sfDir)
    try {
      Streams.userActivity(MemoryStream[Streams.Event].toDS())
      assert(spark.conf.get(key) === "false")
      val conf = spark.conf.getAll
      val rows = ExtensionQueries.builders("x_stream_join_outer")(spark, sfDir).collect()
      assert(spark.conf.getAll === conf)
      val bought = (r: Row) => !r.isNullAt(r.fieldIndex("buy_id"))
      assert(rows.exists(bought))
      assert(rows.exists(!bought(_)))
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
