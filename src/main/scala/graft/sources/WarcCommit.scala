package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}

/** Byte-verified atomic shard commit — the ONE home of the protocol
  * both WARC sinks (the batch `df.write.format("warc")` path and the
  * streaming ingest) share, so its subtleties are maintained once:
  *
  *  - write to the attempt-unique dot-prefixed `tmp`, then rename to
  *    `fin`: files appear ATOMICALLY (a concurrent reader never sees
  *    a truncation that could parse as a silently-short shard);
  *  - an existing `fin` (a replayed batch, a prior attempt's commit —
  *    or, on POSIX filesystems where rename silently REPLACES, a
  *    winner we must not clobber) is read back and must be
  *    byte-identical to ours, else the commit REFUSES loudly: callers
  *    guarantee attempt-deterministic bytes, and this verifies the
  *    guarantee instead of assuming it;
  *  - a failed rename (HDFS-style no-replace semantics losing a race)
  *    adopts the winner only after the same byte check;
  *  - a SUCCESSFUL rename is byte-verified too, on the filesystems
  *    where that matters: POSIX-local rename REPLACES silently, so
  *    two racing first attempts can both observe `fin` absent and
  *    the later rename replaces the earlier — the one interleaving
  *    the exists-branch check cannot see. The post-rename read-back
  *    closes it there; HDFS/S3A refuse a rename onto an existing
  *    file (those races land in the failed-rename branch below), so
  *    the verify is gated to URI scheme "file" rather than doubling
  *    every object-store write with a full GET. The residual window
  *    (a racer replacing `fin` AFTER our verify) is covered by the
  *    callers' contract — shard bytes are a pure function of the row
  *    set, so every legal racer writes identical bytes, and the
  *    verify exists to catch contract VIOLATIONS, not to serialize
  *    writers;
  *  - the tmp file is removed BEFORE any refusal, so a loud abort
  *    never litters the target directory.
  *
  * The read-back compare buffers one shard — callers bound shards by
  * capacity, so this is capped work, not corpus-scale. */
private[graft] object WarcCommit {

  /** Commit `shard` to `fin` via `tmp`. `context` prefixes refusal
    * messages (e.g. "warc write", "warc stream ingest: replayed batch
    * 3"); `mismatchDetail` explains what a byte mismatch means at this
    * call site. */
  def commit(fs: FileSystem, tmp: Path, fin: Path, shard: Array[Byte],
      context: String, mismatchDetail: String): Unit = {
    val out = fs.create(tmp, true)
    try out.write(shard) finally out.close()
    def winnerMatches(): Boolean = {
      val st = fs.getFileStatus(fin)
      st.getLen == shard.length.toLong && {
        val got = new Array[Byte](shard.length)
        val s = fs.open(fin)
        try s.readFully(0, got) finally s.close()
        java.util.Arrays.equals(got, shard)
      }
    }
    if (fs.exists(fin)) {
      val matches = winnerMatches()
      fs.delete(tmp, false)
      require(matches,
        s"$context: $fin already exists with DIFFERENT bytes — " +
          s"$mismatchDetail; refusing to overwrite a committed shard")
    } else if (!fs.rename(tmp, fin)) {
      val matches = fs.exists(fin) && winnerMatches()
      fs.delete(tmp, false)
      require(matches,
        s"$context could not commit $fin (rename failed and no " +
          "byte-identical winner exists)")
    } else if ("file" == fs.getUri.getScheme) {
      // rename succeeded — verify what actually landed (see scaladoc:
      // on rename-REPLACE filesystems this is the only check the
      // two-racing-first-attempts interleaving ever gets). Gated to
      // POSIX-local ("file"): HDFS and S3A refuse a rename onto an
      // existing file, so their races land in the failed-rename
      // branch above and the read-back there stays race-rare — an
      // unconditional verify would double write-path IO (a full GET
      // per shard on an object store) to guard an interleaving that
      // cannot occur on those semantics.
      require(winnerMatches(),
        s"$context: $fin holds DIFFERENT bytes after a successful " +
          s"rename — $mismatchDetail; a racing writer with " +
          "non-deterministic bytes replaced this commit")
    }
  }
}
