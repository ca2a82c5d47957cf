package graft

import scala.collection.concurrent.TrieMap

/** JVM-lifetime memo of PERSISTED per-corpus artifacts (screening indexes,
  * derived edge tables): key → (source fingerprint, artifact path).
  *
  * Two invariants the ad-hoc memos this replaces did not hold:
  *
  *  - **Path uniqueness.** The artifact path embeds an MD5 of the key, so
  *    building for corpus B can never wipe corpus A's on-disk artifact while
  *    A's memo entry stays fingerprint-valid (the round-9 advice defect:
  *    every build wrote the SAME `WorkDirs.fresh` path, so alternating
  *    corpora in one JVM silently served B's index to A's queries).
  *  - **Per-key build exclusion.** Concurrent callers for the same key
  *    serialize on a per-key lock — one builds, the rest reuse — and a
  *    builder for key A never blocks a builder for key B. A concurrent
  *    build can therefore never wipe a path another thread is mid-way
  *    through reading lazily (micro-batch reads close over the path).
  *
  * Values are PATHS, not DataFrames: session-agnostic, cache-sweep-proof,
  * and exactly the production contract — the artifact is durable, built
  * once per corpus, and every later run LOADS it. Staleness is governed by
  * the caller-supplied fingerprint (file listing + sizes + mtimes of the
  * source): an overwritten corpus rebuilds under the same key.
  *
  * '''Generation versioning (round-10 ask #4).''' Paths embed the
  * FINGERPRINT hash as well as the key hash, so a staleness rebuild
  * writes a NEW directory instead of wiping the one a still-running
  * stream may be lazily reading (the round-10 residual: same-corpus
  * overwrite mid-stream). The memo pointer swaps only after the build
  * completes; the superseded generation is kept on disk until the NEXT
  * staleness event for that key reclaims it — the q144
  * alternating-generations discipline. A reader therefore survives one
  * rebuild of its corpus; only a second rebuild mid-read (two corpus
  * rewrites inside one micro-batch's lifetime) can pull its files, and
  * disk growth stays bounded at two generations per key.
  */
final class ArtifactMemo(prefix: String) {

  private val memo = TrieMap.empty[String, (String, String)]
  private val superseded = TrieMap.empty[String, String]
  private val locks = TrieMap.empty[String, Object]

  private def md5hex(s: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
  }

  /** The artifact path for `key`, building via `build(path)` iff absent or
    * stale under `fingerprint`. `build` must fully populate `path` before
    * returning; it runs under the key's lock. */
  def getOrBuild(key: String, fingerprint: String)(build: String => Unit): String = {
    val hit = memo.get(key)
    hit match {
      case Some((fp, path)) if fp == fingerprint => path
      case _ =>
        val lock = locks.getOrElseUpdate(key, new Object)
        lock.synchronized {
          memo.get(key) match {
            case Some((fp, path)) if fp == fingerprint => path
            case prev =>
              // Reclaim the generation TWO rebuilds back first: the one
              // being superseded NOW must survive this build so a live
              // lazy reader over it can finish (object doc).
              superseded.remove(key).foreach { old =>
                try WorkDirs.drop(old)
                catch { case _: IllegalArgumentException => () }
              }
              // FULL fingerprint hash (round-11 advice): a truncated
              // 32-bit suffix colliding across two consecutive
              // fingerprints of the same key would make this fresh() wipe
              // the LIVE generation mid-read — the exact bug generations
              // exist to prevent. The full hex costs nothing.
              val path = WorkDirs.fresh(
                s"${prefix}_${md5hex(key)}_${md5hex(fingerprint)}")
              build(path)
              prev.foreach { case (_, old) if old != path =>
                superseded.put(key, old)
              case _ => () }
              memo.put(key, (fingerprint, path))
              path
          }
        }
    }
  }
}

object ArtifactMemo {

  /** Fingerprint of the parquet data a `Tables.parquet(spark, path, glob)`
    * read scans — its [[Tables.dataFiles]] listing (relative path, length,
    * mtime): the staleness key for any artifact derived from that data,
    * and the same rule the schema memo of [[Tables.parquet]] uses. Pass
    * the path and glob the build reads. The joined listing IS the key;
    * hashing it could collide and serve a stale artifact. */
  def tableFingerprint(spark: org.apache.spark.sql.SparkSession, path: String,
      glob: Option[String] = None): String = {
    val files = Tables.dataFiles(spark, path, glob)
    if (files.isEmpty) "absent" else files.mkString("|")
  }
}
