package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame

import graft.sources.SessionConf
import graft.text.Warc

/** Streaming WARC ingest — the crawl-side twin of [[CogStreamIngest]]:
  * crawl results (doc_id, source host, text) arrive in micro-batches
  * and each batch lands as BATCH-ID-TAGGED `.warc.gz` part files in
  * the shard directory, so the corpus is readable mid-stream through
  * the `warc` DataSource and grows monotonically. Mid-stream
  * readability is real because files appear ATOMICALLY: each shard is
  * written to a dot-prefixed temp name and renamed into place (the
  * batch writer's own commit pattern) — a concurrent reader can never
  * observe a half-written file, whose truncation could land exactly
  * on a gzip member boundary and parse cleanly as a silently SHORT
  * shard.
  *
  * Exactly-once without a transaction log: file names are a pure
  * function of (batchId, partition, sequence) and file CONTENTS are a
  * pure function of the batch's rows (hash-repartitioned on doc_id,
  * totally ordered within the partition before packing) — a restart
  * that replays a batch rewrites byte-identical files over
  * themselves, the idempotent-file-sink discipline (same contract the
  * parquet stage of [[CogStreamIngest]] gets from last-write-wins
  * dedup). Byte-idempotence REQUIRES doc_id to be unique within a
  * batch (the total order would otherwise tie-break on
  * nondeterministic shuffle arrival order), so duplicates are refused
  * loudly rather than assumed away.
  *
  * 100 TB shape: `partitions` sets the per-batch write parallelism
  * (a real feed sizes it to executor count), `capacity` bounds each
  * file, and the partition is sorted by the ENGINE
  * (`sortWithinPartitions`, spillable) rather than buffered in task
  * memory — task heap stays one-shard-bounded regardless of batch
  * size. */
object WarcStreamIngest {

  /** One micro-batch → `b<batchId>-p<pid>-<seq>.warc.gz` files of at
    * most `capacity` records under `dir`, written across `partitions`
    * parallel tasks. */
  def stageBatch(dir: String, capacity: Int = 64, partitions: Int = 2)(
      batch: DataFrame, batchId: Long): Unit = {
    require(capacity > 0, s"capacity must be positive, got $capacity")
    require(partitions > 0, s"partitions must be positive, got $partitions")
    val spark = batch.sparkSession
    import spark.implicits._
    // ship the SESSION Hadoop conf to the tasks (a bare Configuration
    // would drop s3a credentials / custom filesystems that work on
    // every other write path); memoized — a long-running stream pays
    // the broadcast once, not per micro-batch
    val bcConf = SessionConf.broadcast(spark)
    batch.select("doc_id", "source", "text")
      .repartition(partitions, org.apache.spark.sql.functions.col("doc_id"))
      .sortWithinPartitions("doc_id")
      .as[(Long, String, String)]
      .foreachPartition { (it: Iterator[(Long, String, String)]) =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val dp = new Path(dir)
        val fs = dp.getFileSystem(SessionConf.hadoop(bcConf.value, Map.empty))
        var seq = 0
        var prevId = Long.MinValue
        var first = true
        it.grouped(capacity).foreach { group =>
          // record bytes come from the ONE shared builder — the
          // stream-vs-batch byte-equality law depends on it
          val recs = group.map { case (id, src, text) =>
            // sorted input makes duplicates adjacent: enforce the
            // unique-doc_id assumption byte-idempotent replay rests on
            require(first || id != prevId,
              s"duplicate doc_id $id in one micro-batch — byte-idempotent " +
                "replay requires unique doc_id; dedup upstream")
            prevId = id
            first = false
            graft.queries.TextQueries.corpusWarcRecord(id, src, text)
          }
          val (shard, offsets) = Warc.writeShardWithIndex(recs)
          val fin = new Path(dir, f"b$batchId%05d-p$pid%03d-$seq%03d.warc.gz")
          val tmp = new Path(dir,
            f".b$batchId%05d-p$pid%03d-$seq%03d.warc.gz." +
              f"${java.util.UUID.randomUUID}%s.tmp")
          // atomic appearance + replay verification through the shared
          // protocol: an existing final file (a replayed batch) must
          // carry our exact bytes or the commit refuses loudly
          graft.sources.WarcCommit.commit(fs, tmp, fin, shard,
            s"warc stream ingest (replayed batch $batchId)",
            "the feed is not replay-deterministic")
          // sidecar member index — shared size-gated commit
          // ([[graft.sources.WarcSplit.commitIndex]]): pure function
          // of the shard bytes, so replay idempotence carries over,
          // and mid-stream DSv2 reads fan large shards across tasks
          graft.sources.WarcSplit.commitIndex(fs, new Path(dir), fin,
            shard.length.toLong, offsets,
            s"warc stream ingest (member index, replayed batch $batchId)",
            "the feed is not replay-deterministic")
          seq += 1
        }
      }
  }
}
