package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.SparkSpecBase
import graft.streaming.StreamOps.{HistoryEvent, MailboxWatermark}

class StreamOpsSpec extends SparkSpecBase {

  test("monotone watermark guard: only advancing ids emit; state survives batches") {
    implicit val s = spark
    import s.implicits._
    val input = MemoryStream[HistoryEvent](spark)
    val q = StreamOps.monotoneWatermarkGuard(input.toDS())
      .writeStream.format("memory").queryName("wm_out")
      .outputMode("append").start()
    try {
      input.addData(HistoryEvent("m1", 5), HistoryEvent("m1", 3), HistoryEvent("m2", 1))
      q.processAllAvailable()
      // batch 2: duplicate 5 (stale), advance to 9
      input.addData(HistoryEvent("m1", 5), HistoryEvent("m1", 9))
      q.processAllAvailable()
      val rows = spark.table("wm_out").as[MailboxWatermark].collect().toSet
      // within-batch ordering sorts ascending, so batch 1 emits 3 then 5
      assert(rows == Set(
        MailboxWatermark("m1", 3), MailboxWatermark("m1", 5),
        MailboxWatermark("m2", 1), MailboxWatermark("m1", 9)))
    } finally q.stop()
  }

  test("monotone guard also runs under RocksDB (provider is a config, not a code change)") {
    withConfs(ProviderConf -> StateProviders.last) {
      implicit val s = spark
      import s.implicits._
      val input = MemoryStream[HistoryEvent](s)
      val q = StreamOps.monotoneWatermarkGuard(input.toDS())
        .writeStream.format("memory").queryName("rocksdb_guard_out")
        .outputMode("append").start()
      try {
        input.addData(HistoryEvent("m1", 10))
        q.processAllAvailable()
        // 7 arrives AFTER 10 was committed to the state store → stale
        input.addData(HistoryEvent("m1", 7), HistoryEvent("m1", 12))
        q.processAllAvailable()
        input.addData(HistoryEvent("m1", 11)) // stale vs stored 12
        q.processAllAvailable()
        val out = s.table("rocksdb_guard_out").as[MailboxWatermark]
          .collect().map(_.historyId).sorted
        assert(out.toSeq == Seq(10L, 12L))
      } finally q.stop()
    }
  }

  test("B6 property: any shuffled/duplicated id sequence → final watermark = max, each id ≤ once") {
    implicit val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(42)
    (1 to 3).foreach { trial =>
      val ids = List.fill(rnd.nextInt(20) + 3)(rnd.nextInt(50).toLong + 1)
      val input = MemoryStream[HistoryEvent](spark)
      val name = s"wm_prop_$trial"
      val q = StreamOps.monotoneWatermarkGuard(input.toDS())
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        // two micro-batches: enough to prove state survives the boundary
        ids.grouped((ids.length + 1) / 2).foreach { g =>
          input.addData(g.map(i => HistoryEvent("m", i)): _*)
          q.processAllAvailable()
        }
        val out = spark.table(name).as[MailboxWatermark].collect().map(_.historyId)
        assert(out.max == ids.max, s"trial $trial: max")
        assert(out.length == out.distinct.length, s"trial $trial: no re-emit")
        assert(out.toList == out.sorted.toList, s"trial $trial: monotone")
      } finally q.stop()
    }
  }

  test("ST4: idempotent foreachBatch sink writes batchId-keyed output") {
    implicit val s = spark
    import s.implicits._
    val input = MemoryStream[(Long, String)](spark)
    val out = java.nio.file.Files.createTempDirectory("sink_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("sink_ckpt").toString
    val q = StreamOps.idempotentParquetSink(
      input.toDS().toDF("id", "v"), out, ckpt)
    try {
      input.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      input.addData((3L, "c"))
      q.processAllAvailable()
      val read = spark.read.parquet(s"$out/batch_*").count()
      assert(read == 3)
      // batch dirs are keyed by id — a replayed batch overwrites, never dups
      val dirs = new java.io.File(out).listFiles().map(_.getName).sorted
      assert(dirs.toSeq == Seq("batch_0", "batch_1"))
    } finally q.stop()
  }

  test("ST4: restart from the same checkpoint reprocesses nothing (replay safety)") {
    import org.apache.spark.sql.functions.col
    val src = java.nio.file.Files.createTempDirectory("restart_src").toString
    val out = java.nio.file.Files.createTempDirectory("restart_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("restart_ckpt").toString
    import spark.implicits._
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.mode("append").json(src)
    val schema = org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, v STRING")
    def run(): Unit = {
      val q = StreamOps.idempotentParquetSink(
        spark.readStream.schema(schema).json(src), out, ckpt)
      try q.processAllAvailable() finally q.stop()
    }
    run()
    val afterFirst = spark.read.parquet(s"$out/batch_*").count()
    run() // same checkpoint: committed offsets → nothing new to process
    val afterSecond = spark.read.parquet(s"$out/batch_*").count()
    assert(afterFirst == 2 && afterSecond == 2,
      s"replay must not duplicate (first=$afterFirst second=$afterSecond)")
    // new data after restart IS processed exactly once
    Seq((3L, "c")).toDF("id", "v").write.mode("append").json(src)
    run()
    assert(spark.read.parquet(s"$out/batch_*").count() == 3)
  }

  test("S1 analog: events parquet as a real file-source stream → windowed agg") {
    import org.apache.spark.sql.functions.{col, window}
    // stage the events file alone in a dir (a file stream reads a directory)
    val dir = java.nio.file.Files.createTempDirectory("events_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(dir.toString).schema
    val st = graft.sources.Tables.normalizeEventsTs(
        spark.readStream.schema(schema).parquet(dir.toString))
      .groupBy(window(col("ts"), "1 day")).count()
    val q = st.writeStream.format("memory").queryName("file_stream_out")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      assert(spark.table("file_stream_out").count() >= 28) // ~30 days
    } finally q.stop()
  }

  test("ST5 tumbling window shape runs over the events table") {
    val ev = graft.sources.Tables.events(spark, sf)
    val out = ev.groupBy(org.apache.spark.sql.functions.window(
        org.apache.spark.sql.functions.col("ts"), "1 day"))
      .count()
    assert(out.count() >= 28) // ~30 days of data
  }
}
