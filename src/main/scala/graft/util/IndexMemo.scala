package graft.util

import java.nio.charset.StandardCharsets.UTF_8
import scala.jdk.OptionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation, PartitioningAwareFileIndex}

/** Session index memo: index state (ANN quantizers, PQ codebooks, pair
  * lists, cluster tables, tf indexes, class tables, fitted models) is
  * built ONCE per session and input, then every later call is served
  * from it — index-build cost is never charged to a lookup.
  *
  * KEY: (session identity, `name`, `params`, input fingerprint). `name`
  * is the caller's dataset key; `params` are every build argument that
  * changes the result. The fingerprint of each input frame is its
  * analyzed plan's `semanticHash()` — a filtered/derived frame passed
  * under an existing name canonicalizes differently and builds its own
  * entry — plus the (path, length, mtime) of every file in the plan's
  * file-source leaves. The plan hash alone names a parquet PATH, not
  * its contents: a path rewritten in place keeps its hash, and only the
  * file listing (already held by the frame's file index, so no new
  * filesystem call) tells the two apart. Re-reading an unchanged path
  * still hits.
  *
  * FRESHNESS: an entry is served only to the session that built it,
  * and only while that session's SparkContext runs (identity hash codes
  * are not unique across session lifetimes, and a checkpoint of a
  * stopped context fails every query served from it). Anything else is
  * rebuilt in place.
  *
  * CONCURRENCY: a lock-free `get` serves hits; only a miss takes the
  * map's per-key `compute`, so a build (a full KMeans fit, a
  * posting-list pass) never runs under a bin lock an unrelated hit
  * waits on, and concurrent misses on one key build once. One map per
  * memo: a build may call ANOTHER memo (clusters build through pairs),
  * never its own — a nested `compute` on one map is illegal.
  *
  * PINNING: a build that returns a `localCheckpoint` pins it with
  * [[BlockHygiene.pin]] where it makes it; the memo holds the pinned
  * frame for the session. Entries are never evicted: one per named
  * dataset variant, plus one per in-place rewrite of its input.
  */
final class IndexMemo[V <: AnyRef] {
  private final class Entry(val session: SparkSession, val value: V)
  private val entries = new java.util.concurrent.ConcurrentHashMap[String, Entry]()

  /** The memoized value for (inputs, name, params), built by `build` on
    * a miss. `inputs` are the frames the build reads; the first one's
    * session owns the entry.
    */
  def apply(inputs: Seq[DataFrame], name: String, params: Any*)(build: => V): V = {
    val session = inputs.head.sparkSession
    val key = ((System.identityHashCode(session) +: name +: params) ++
      inputs.map(IndexMemo.fingerprint)).mkString("#")
    def fresh(e: Entry) =
      e != null && (e.session eq session) && !session.sparkContext.isStopped
    val cur = entries.get(key)
    if (fresh(cur)) cur.value
    else entries.compute(key, (_, c) => if (fresh(c)) c else new Entry(session, build)).value
  }

  /** The key under which this memo holds `v` (by reference), if any. */
  def keyOf(v: AnyRef): Option[String] =
    entries.entrySet.stream.filter(_.getValue.value eq v).findFirst.toScala.map(_.getKey)
}

object IndexMemo {
  /** The input half of the key: the analyzed plan's semantic hash plus
    * a digest of the sorted (path, length, mtime) of every file its
    * file-source leaves list.
    */
  def fingerprint(df: DataFrame): String = {
    val plan = df.queryExecution.analyzed
    val files = plan.collectWithSubqueries {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) => fs.location
    }.collect { case idx: PartitioningAwareFileIndex => idx.allFiles() }.flatten
      .map(f => s"${f.getPath}|${f.getLen}|${f.getModificationTime}").sorted
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(files.mkString("\n").getBytes(UTF_8))
    s"${plan.semanticHash()}@${digest.map(b => f"$b%02x").mkString}"
  }
}
