package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.Ledger

/** S7 — the OTP *signal* sink over real HTTP (reference
  * api/main.py:180-194: `POST {base}/{key}/receive_otp` with
  * `{"otp": ...}`), exactly-once across crash/replay.
  *
  * Two layers make at-least-once micro-batch replay exactly-once:
  *
  *  1. **BatchId-keyed ledger** (the idempotentParquetSink discipline,
  *     StreamOps.scala): after a batch's POSTs all succeed, an empty
  *     `batch_<id>` marker is published to `ledgerDir` by
  *     [[Ledger.publishOnce]]. A replayed batch whose marker exists is skipped
  *     wholesale — zero network traffic, because marker existence ⟹
  *     every POST of that batch already succeeded.
  *  2. **Idempotency-Key header** `graft-<batchId>-<key>` on every POST:
  *     a crash BETWEEN the POSTs and the marker commit replays the batch
  *     and re-POSTs, but with the SAME tokens — a receiver honoring
  *     idempotency keys (the standard exactly-once HTTP contract; the
  *     reference's Restate workflow endpoint journals signals the same
  *     way, login_workflow.py) applies each signal once. Deterministic
  *     batch replay (same batchId ⟹ same rows) is what makes the token
  *     stable, which is why the token carries the batchId, not a UUID.
  *
  * Scale shape: POSTs run from the EXECUTORS (`foreachPartition`, one
  * HTTP client per executor JVM) — signal fan-out scales with the cluster,
  * never through a driver collect. A failed POST throws, failing the
  * task/batch so Spark retries it — at-least-once at the transport,
  * exactly-once end-to-end via the token.
  *
  * '''Upgrade note (token format):''' as of round 11 the Idempotency-Key
  * carries the percent-ENCODED key (`graft-<batchId>-<keyEnc>`), where
  * earlier builds used the raw key. A torn posted-but-uncommitted batch
  * replayed across that version boundary re-POSTs with different tokens
  * and can double-apply at the receiver. Operators upgrading a live
  * pipeline should drain in-flight batches (let the ledger marker land)
  * before swapping the jar.
  *
  * `afterPost(batchId)` runs driver-side after the batch's POSTs succeed
  * and BEFORE the ledger commit — an ops/metrics hook, and the fault
  * injection point the kill-restart spec uses to prove the torn window
  * (posted-but-not-committed) replays without double-applying.
  */
object HttpSignalSink {

  /** One client per JVM, so its pool holds one keep-alive connection per
    * concurrent task. A client per partition kept each batch's idle
    * connections open until it was garbage-collected; a receiver that
    * caps idle connections (the JDK HttpServer closes those beyond 200)
    * then closed them under a client about to reuse one, failing the
    * POST and with it the batch. */
  private lazy val client = java.net.http.HttpClient.newHttpClient()

  def start(signals: DataFrame, endpointBase: String, ledgerDir: String,
      checkpoint: String,
      afterPost: Long => Unit = _ => ()): StreamingQuery =
    signals.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val marker = new org.apache.hadoop.fs.Path(s"$ledgerDir/batch_$batchId")
        val fs = marker.getFileSystem(
          batch.sparkSession.sparkContext.hadoopConfiguration)
        val posted = Ledger.publishOnce(fs, marker) { tmp =>
          val base = endpointBase
          batch.select(col("key").cast("string"), col("otp").cast("string"))
            .foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
              rows.foreach { r =>
                val key = r.getString(0)
                val otp = r.getString(1)
                // PATH-segment encoding, not form encoding: URLEncoder
                // is application/x-www-form-urlencoded, which maps a
                // space to '+' — a URI path does NOT decode '+' back,
                // so "user 1" would silently signal resource "user+1"
                val keyEnc = java.net.URLEncoder.encode(key, "UTF-8")
                  .replace("+", "%20")
                val body = s"""{"otp":"${otp.replace("\\", "\\\\").replace("\"", "\\\"")}"}"""
                val req = java.net.http.HttpRequest
                  .newBuilder(java.net.URI.create(s"$base/$keyEnc/receive_otp"))
                  .header("Content-Type", "application/json")
                  // the token carries the ENCODED key: header values
                  // must be ASCII without CR/LF — a raw key with
                  // either would throw in the builder and wedge the
                  // batch as a poison pill; the encoded form is both
                  // header-safe and still deterministic per (batch, key)
                  .header("Idempotency-Key", s"graft-$batchId-$keyEnc")
                  .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body))
                  .build()
                val resp = client.send(req,
                  java.net.http.HttpResponse.BodyHandlers.ofString())
                if (resp.statusCode() / 100 != 2)
                  throw new IllegalStateException(
                    s"signal POST for key $key failed: HTTP ${resp.statusCode()}")
              }
            }
          afterPost(batchId)
          fs.mkdirs(tmp)
        }
        if (!posted) {
          // Completed on a prior attempt: no replay reaches the wire —
          // but the batch must still be PROCESSED, not just left lazy:
          // when a stateful operator (the monotone guard, the OTP
          // correlator) feeds this sink, running the partitions is what
          // commits its state stores, and Spark validates those commits
          // per batch (the idempotentParquetSink lesson — the lazy
          // no-op died STATE_STORE_COMMIT_VALIDATION_FAILED on the
          // replay of a torn posted-but-uncommitted batch).
          batch.foreach(_ => ())
        }
      }
      .start()
}
