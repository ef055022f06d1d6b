package graft.index.rules

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import graft.index.{FileMeta, Signatures}

/**
 * The one per-session cache of derived state: parsed schemas, resolved
 * file indexes, resolved index-data and table relations, probed fixture
 * facts. Rewrite rules run on EVERY query plan (several times per query
 * under multi-pass benchmarks), and re-deriving these per invocation (a
 * JSON schema parse + an `InMemoryFileIndex` construction or a full
 * `spark.read` relation resolution) was the dominant planning-time cost
 * (measured: FilterIndexRule 2.5 s + DataSkippingRule 1.2 s over a
 * 10-query profile, nearly all artifact re-derivation).
 *
 * One staleness rule: a key embeds what would invalidate its value —
 * either an index's LOG ID plus the content key (every FSM transition
 * writes a new id), or [[Signatures.ofFiles]] over every leaf file the
 * read resolves to ([[overFiles]]; a part file rewritten inside a
 * directory, or a new file a glob matches, changes the key). So a stale
 * value is never served, only left to age out. Values are immutable
 * (Spark's own catalog shares `FileIndex` instances across queries the
 * same way).
 *
 * Bounded: each session holds at most [[Capacity]] entries, least
 * recently used evicted first (a long-running lake stream adds a key per
 * micro-batch). A value is computed outside the lock and then put if
 * absent, so a slow build never blocks planning in other threads and a
 * computation may itself call [[getOrCompute]]; a computation that
 * throws leaves no entry. Sessions are weak keys so stopped test
 * sessions unpin.
 */
private[graft] object PlanArtifacts {
  /** Entries per session: a constant, sized above the peak live count
    * of a full `graft.Verify` pass at sf0.01 and of a traced
    * `maintain_drift` benchmark run, so neither evicts. */
  val Capacity = 256

  private final class Lru extends java.util.LinkedHashMap[String, AnyRef](
      64, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[String, AnyRef]): Boolean =
      this.size() > Capacity
  }

  private val cache = new java.util.WeakHashMap[SparkSession, Lru]()

  private def mapFor(spark: SparkSession): Lru = cache.synchronized {
    var m = cache.get(spark)
    if (m == null) {
      m = new Lru
      cache.put(spark, m)
    }
    m
  }

  def getOrCompute[T <: AnyRef](spark: SparkSession, key: String)(f: => T): T = {
    val m = mapFor(spark)
    val hit = m.synchronized(m.get(key))
    if (hit != null) hit.asInstanceOf[T]
    else {
      val v: AnyRef = f
      m.synchronized {
        val raced = m.putIfAbsent(key, v)
        (if (raced == null) v else raced).asInstanceOf[T]
      }
    }
  }

  /** `f` cached under `tag`, `path` and the signature of the leaf files
    * `path` (a file, a directory or a glob) resolves to; computed uncached
    * when the path cannot be listed or matches nothing. */
  def overFiles[T <: AnyRef](spark: SparkSession, tag: String, path: String)(
      f: => T): T =
    leafSignature(spark, path) match {
      case Some(sig) => getOrCompute(spark, s"$tag#$path#$sig")(f)
      case None => f
    }

  /** [[Signatures.ofFiles]] over every leaf file under `path`'s matches,
    * or None when it cannot be listed or matches nothing. */
  def leafSignature(spark: SparkSession, path: String): Option[String] =
    scala.util.Try {
      val p = new Path(path)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      val leaves = Option(fs.globStatus(p)).toSeq.flatten.flatMap { st =>
        if (!st.isDirectory) Seq(st)
        else {
          val it = fs.listFiles(st.getPath, true)
          Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).toSeq
        }
      }
      leaves.map(FileMeta(_, 0L))
    }.toOption.filter(_.nonEmpty).map(Signatures.ofFiles)

  /** Live entries of `spark`'s map. */
  private[graft] def size(spark: SparkSession): Int = {
    val m = mapFor(spark)
    m.synchronized(m.size())
  }

  /** Strong content hash for cache keys: SHA-256 over the parts, NUL
    * separated. Int `hashCode`s alias at ~2^16 entries (birthday bound) —
    * with a 256-bit digest aliasing is structurally impossible rather
    * than merely unlikely, and the file LIST (not just its hash) is what
    * distinguishes two fixtures reusing an index name at the same log id. */
  def contentKey(parts: Iterable[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    parts.foreach { p => md.update(p.getBytes("UTF-8")); md.update(0.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }
}
