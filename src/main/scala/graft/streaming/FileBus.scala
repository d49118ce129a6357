package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.Ledger

/** The directory-backed partitioned log under the "graftbus" connector
  * (sources/v2/BusSource.scala) — the broker-less model of the
  * reference's message bus (deployment/api/gmail_pubsub.tf:7-22), built
  * from the repo's two exactly-once primitives:
  *
  *  - '''segments''' (the spool durability discipline,
  *    HttpPushReceiver): each producer append to a partition is ONE
  *    immutable file `seg_<firstOffset>_<count>_<tag>.jsonl`, written
  *    tmp + hsync + atomic no-replace rename — a crash mid-write leaves
  *    no partial segment, and the name itself carries the offset range
  *    so readers slice without opening non-overlapping files;
  *  - '''producer idempotency''' (the batchId-ledger discipline,
  *    HttpSignalSink): the streaming sink tags every segment with the
  *    micro-batch id; a replayed batch whose tag already exists in a
  *    partition skips that partition's append — the torn window
  *    (some partitions appended, crash, replay) converges to
  *    exactly-once without a ledger directory, because the LOG is the
  *    ledger.
  *
  * ALL segment IO goes through the Hadoop FileSystem API (the round-12
  * caveat, closed round 13): `path` may be a local dir, `hdfs://…`, or
  * `s3a://…` — the same code runs against the cluster FS. The POSIX
  * spool primitives map as:
  *
  *  - tmp durability: `create(tmp, overwrite = false)` (the CREATE_NEW
  *    exclusivity) + `hsync()` before close — a real fsync on HDFS;
  *    the local FS honors it as flush+sync of the file channel;
  *  - atomic no-replace publish: `FileContext.rename` WITHOUT
  *    Rename.OVERWRITE on HDFS-class filesystems — atomic in the HDFS
  *    namenode and it REFUSES an existing target — and a hard link
  *    (`link(2)`, kernel-atomic, EEXIST on an existing target) on the
  *    local filesystem, where Hadoop's no-replace rename is only an
  *    exists-check + POSIX rename (which silently replaces). Either
  *    way a concurrent duplicate attempt (speculative/zombie task)
  *    loses the race loudly-but-safely and stands down, never
  *    replacing a published segment whose row order is
  *    attempt-dependent;
  *  - the POSIX directory-entry fsync has no FS-API equivalent and is
  *    unnecessary on HDFS (metadata is journaled by the namenode).
  *
  * On the local FS the FileSystem handle is unwrapped to the RAW
  * filesystem (no checksum sidecars): FileContext renames through the
  * raw view, and mixing checksummed writes with raw renames would
  * strand `.crc` files beside every published segment.
  *
  * Offsets are dense per partition: a partition's next offset is
  * max(firstOffset + count) over its segments — derived from the
  * listing, never stored separately, so there is no offset file to
  * tear. Keys route to partitions by a stable hash (murmur-free:
  * `String.hashCode` is specified arithmetic, identical on every JVM),
  * which gives Kafka's per-key ordering guarantee.
  *
  * ORDERING CONTRACT (Kafka's): per-partition order is total and
  * gapless; cross-partition order is undefined. SINGLE WRITER per
  * partition per append call — the streaming sink enforces it by
  * hash-repartitioning rows so each log partition is appended from
  * exactly one task.
  */
object FileBus {

  // ─── filesystem plumbing ───

  /** Driver: the session's Hadoop conf (site files + spark.hadoop.*).
    * Executors (no session object): classpath-config — the same files
    * a cluster deployment ships to every container. */
  private def hadoopConf: Configuration =
    try org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())
    catch { case _: Throwable => new Configuration() }

  /** FileSystem for `p`, unwrapped past checksum decoration (see the
    * class doc — FileContext renames bypass the checksum layer, so the
    * write path must too or every publish strands a .crc sidecar). */
  private def fsOf(p: Path): FileSystem =
    p.getFileSystem(hadoopConf) match {
      case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
      case other => other
    }

  private def fcOf(p: Path): FileContext =
    FileContext.getFileContext(p.toUri, hadoopConf)

  // ─── layout ───

  private def pdir(path: String, p: Int) = new Path(path, s"p=$p")

  /** Create the topic: `P` partition dirs + a `_PARTITIONS` marker so
    * consumers learn the partition count from the topic itself. */
  def createTopic(path: String, partitions: Int): Unit = {
    require(partitions > 0, "a topic needs at least one partition")
    val root = new Path(path)
    val fs = fsOf(root)
    (0 until partitions).foreach(p => fs.mkdirs(pdir(path, p)))
    Ledger.replaceSmall(fs, new Path(root, "_PARTITIONS"), partitions.toString)
  }

  def partitionIds(path: String): Seq[Int] = {
    val m = new Path(path, "_PARTITIONS")
    val n = Ledger.readSmall(fsOf(m), m).getOrElse(
      throw new IllegalStateException(
        s"$path is not a graftbus topic (no _PARTITIONS marker); " +
          "create one with FileBus.createTopic"))
    0 until n.toInt
  }

  /** (firstOffset, count, file) per segment of partition `p`, in offset
    * order. Foreign/tmp files are ignored (the spool-resume lesson —
    * a stray file must not wedge the consumer). listStatus, never
    * listFiles: the recursive form pays a per-file block-locations
    * lookup (measured: 150 s vs 0.9 s over 22k files). */
  def segments(path: String, p: Int): Seq[(Long, Long, Path)] = {
    val dir = pdir(path, p)
    val fs = fsOf(dir)
    val listed =
      if (!fs.exists(dir)) Array.empty[org.apache.hadoop.fs.FileStatus]
      else fs.listStatus(dir)
    listed.toSeq.map(_.getPath)
      .flatMap { f =>
        f.getName.split("_") match {
          case Array("seg", first, count, _*) if f.getName.endsWith(".jsonl") =>
            scala.util.Try((first.toLong, count.toLong, f)).toOption
          case _ => None
        }
      }.sortBy(_._1)
  }

  /** Next offset (= total records) per partition — the listing IS the
    * offset store. */
  def endOffsets(path: String): Map[Int, Long] =
    partitionIds(path).map { p =>
      p -> segments(path, p).lastOption.fold(0L) { case (f, c, _) => f + c }
    }.toMap

  // ─── records ───

  private def esc(s: String): String =
    s.flatMap {
      case '\\' => "\\\\"
      case '"' => "\\\""
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c => c.toString
    }

  // null keys and null values are legal records (Kafka's tombstone
  // shape) — encoded as JSON null, round-tripped as Scala null
  private def jstr(s: String): String =
    if (s == null) "null" else s""""${esc(s)}""""

  private def line(k: String, v: String): String =
    s"""{"key":${jstr(k)},"value":${jstr(v)}}"""

  /** Parse one segment line — the inverse of [[line]] by construction
    * (a scanner over the writer's fixed field layout; null fields are
    * the JSON literal). */
  private def parseLine(s: String): (String, String) = {
    // position after `{"key":`
    var i = s.indexOf(':') + 1
    def readField(): String =
      if (s.charAt(i) == 'n') { i += 4; null } // null
      else {
        val b = new StringBuilder
        i += 1 // opening quote
        while (s.charAt(i) != '"') {
          if (s.charAt(i) == '\\') {
            b += (s.charAt(i + 1) match {
              case 'n' => '\n'; case 'r' => '\r'; case 't' => '\t'
              case c => c
            })
            i += 2
          } else { b += s.charAt(i); i += 1 }
        }
        i += 1 // closing quote
        b.toString
      }
    val k = readField()
    i = s.indexOf(':', i) + 1 // after `,"value":`
    (k, readField())
  }

  def readSegment(f: Path): Seq[(String, String)] = {
    val in = fsOf(f).open(f)
    val body = try new String(in.readAllBytes(), UTF_8) finally in.close()
    body.split("\n").toSeq.filter(_.nonEmpty).map(parseLine)
  }

  /** Stable key→partition routing (Kafka's per-key ordering guarantee
    * rests on this being deterministic across JVMs — String.hashCode
    * is specified arithmetic, not identity-based). */
  def partitionOf(key: String, nParts: Int): Int =
    math.floorMod(if (key == null) 0 else key.hashCode, nParts)

  /** The tag field of a segment file name — everything after the third
    * underscore (tags may themselves contain underscores). */
  private def tagOf(name: String): String =
    name.stripSuffix(".jsonl").split("_", 4) match {
      case Array("seg", _, _, t) => t
      case _ => ""
    }

  /** Append records to partition `p` as one durable segment. `tag`
    * makes the append IDEMPOTENT per (tag, partition): if a segment
    * with this tag already exists the call is a no-op — the producer
    * sequence-number analog the exactly-once sink rides on. The tag
    * check compares the parsed tag FIELD exactly (a suffix match would
    * let tag "1" alias an existing "x_1" and silently drop an append).
    * Single writer per partition assumed (see class doc); a concurrent
    * DUPLICATE attempt of the same append (speculative or zombie task)
    * is safe: each attempt writes its own tmp file and publishes with
    * an atomic NO-REPLACE primitive (hard link locally, no-overwrite
    * rename on HDFS-class filesystems — see the class doc) — exactly
    * one attempt's bytes become the segment, the loser observes it and
    * stands down. */
  def appendSegment(path: String, p: Int, records: Seq[(String, String)],
      tag: String): Unit = {
    if (records.isEmpty) return
    require(tag.nonEmpty && !tag.contains('/') && !tag.contains('.'),
      s"invalid segment tag '$tag'")
    val dir = pdir(path, p)
    val fs = fsOf(dir)
    if (!fs.exists(dir) || !fs.getFileStatus(dir).isDirectory)
      throw new IllegalStateException(s"no partition $p in topic $path")
    if (segments(path, p).exists(s => tagOf(s._3.getName) == tag)) return
    val first = segments(path, p).lastOption.fold(0L) { case (f, c, _) => f + c }
    val name = f"seg_${first}%012d_${records.size}_$tag.jsonl"
    // per-attempt-unique tmp: two live attempts of the same task must
    // never interleave writes into one file; overwrite = false is the
    // CREATE_NEW exclusivity
    val tmp = new Path(dir,
      s".$name.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    val out = fs.create(tmp, false)
    try {
      out.write(records.map { case (k, v) => line(k, v) }
        .mkString("", "\n", "\n").getBytes(UTF_8))
      out.hsync() // fsync-to-replicas on HDFS; flush+sync locally
    } finally out.close()
    // publish by an atomic NO-replace primitive: a concurrent duplicate
    // attempt must never replace a published segment (row order is
    // attempt-dependent — a replacement would rewrite history under a
    // reader's feet). On HDFS-class filesystems FileContext.rename
    // without Rename.OVERWRITE is namenode-atomic and refuses an
    // existing target. On the LOCAL filesystem that same call is only
    // best-effort (Hadoop implements it as exists-check + POSIX rename,
    // which silently replaces), so local publishes take the hard-link
    // path instead: link(2) is kernel-atomic and fails with EEXIST —
    // the genuinely atomic no-replace primitive POSIX offers.
    val target = new Path(dir, name)
    if (fs.getUri.getScheme == "file") {
      try java.nio.file.Files.createLink(
        java.nio.file.Paths.get(target.toUri.getPath),
        java.nio.file.Paths.get(tmp.toUri.getPath))
      catch {
        case _: java.nio.file.FileAlreadyExistsException => () // lost the race: append already landed
      } finally { fs.delete(tmp, false); () }
    } else {
      try fcOf(dir).rename(tmp, target)
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => () // lost the race: append already landed
        case e: java.io.IOException
            if fs.exists(target) => () // ditto, FS reported it as a plain IO error
      } finally { fs.delete(tmp, false); () }
    }
  }

  /** Driver-side producer: route by key hash, one segment per touched
    * partition. `tag` defaults to a fresh unique id (a NON-replayed
    * producer call is a new append by definition; full-entropy UUID —
    * a truncated id collides with ~50% odds inside 100k calls, and a
    * collision is a silently skipped append); pass a stable tag to
    * make the call idempotent. */
  def produce(path: String, records: Seq[(String, String)],
      tag: String = java.util.UUID.randomUUID().toString): Unit = {
    val n = partitionIds(path).size
    records.groupBy { case (k, _) => partitionOf(k, n) }
      .foreach { case (p, rs) => appendSegment(path, p, rs, tag) }
  }

  // ─── exactly-once streaming producer (the sink) ───

  /** Stream (key, value) rows INTO the topic exactly-once. Rows are
    * hash-repartitioned by log partition so each partition is appended
    * by exactly one task (the single-writer invariant), and every
    * segment is tagged `b<batchId>`: a replayed micro-batch — full or
    * torn — skips partitions that already hold its tag, so the log
    * converges to exactly-once with no separate ledger (the segment
    * listing is the ledger). `afterWrite(batchId)` runs driver-side
    * after the appends and is the fault-injection point the
    * kill-restart spec tears the batch at. */
  def sink(data: DataFrame, path: String, checkpoint: String,
      afterWrite: Long => Unit = _ => ()): StreamingQuery = {
    val nParts = partitionIds(path).size
    data.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val tag = s"b$batchId"
        val route = udf((k: String) => partitionOf(k, nParts))
        batch.select(col("key").cast("string"), col("value").cast("string"))
          .withColumn("p", route(col("key")))
          .repartition(nParts, col("p"))
          .foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
            // a task may hold several log partitions (hash collisions
            // across Spark partitions are impossible — same p, same
            // task — but several p values can share one task)
            rows.toSeq.groupBy(_.getInt(2)).foreach { case (p, rs) =>
              appendSegment(path, p,
                rs.map(r => (r.getString(0), r.getString(1))), tag)
            }
          }
        afterWrite(batchId)
      }
      .start()
  }
}
