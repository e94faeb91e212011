package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation,
  PartitioningAwareFileIndex}
import org.apache.spark.sql.functions.col

/** Index metadata — IVF centroid tables, PQ codebooks — read into driver
  * arrays. Probes, assignment and the celled kernels all need these few
  * rows on the driver; collecting them is a whole Spark job each time, which
  * at fixture scale costs more than the probe it serves.
  *
  * [[read]] memoizes the decoded value only when the DataFrame is a bare
  * stored catalog table (what [[TableStore.getOrBuild]] returns). The key is
  * the table identifier, its `createTime`, and the (path, length, mtime) of
  * every file the relation listed when it was resolved — the listing a
  * collect would read. A rewrite, a drop and rebuild, or a generation flip
  * (a different physical table) therefore changes the key, and the next read
  * collects again. Any other DataFrame is collected on every call.
  *
  * One slot per (table, decoder): a changed key replaces the old value.
  * [[Caches.release]] empties the memo. */
object IndexMeta {

  private final case class Key(table: String, createTime: Long,
                               files: Seq[(String, Long, Long)])

  private val memo = new ConcurrentHashMap[(String, String), (Key, AnyRef)]()

  private def stripAliases(p: LogicalPlan): LogicalPlan = p match {
    case SubqueryAlias(_, child) => stripAliases(child)
    case other => other
  }

  private def storedKey(df: DataFrame): Option[Key] =
    stripAliases(df.queryExecution.analyzed) match {
      case l: LogicalRelation => (l.relation, l.catalogTable) match {
        case (fs: HadoopFsRelation, Some(t)) => fs.location match {
          case idx: PartitioningAwareFileIndex =>
            Some(Key(t.identifier.unquotedString, t.createTime,
              idx.allFiles().map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
                .sorted))
          case _ => None
        }
        case _ => None
      }
      case _ => None
    }

  /** `decode(df)`, reused while `df`'s stored file set is unchanged.
    * `decoder` names the decoding: two decoders of one table never share
    * a slot. The returned value is shared — callers must not mutate it. */
  private[graft] def read[T <: AnyRef](df: DataFrame, decoder: String)(decode: DataFrame => T): T =
    storedKey(df) match {
      case None => decode(df)
      case Some(key) =>
        val slot = (key.table, decoder)
        val hit = memo.get(slot)
        if (hit != null && hit._1 == key) hit._2.asInstanceOf[T]
        else {
          val v = decode(df)
          memo.put(slot, (key, v))
          v
        }
    }

  /** (centroid_id, centroid_vec) rows of a centroid table, ids as longs; a
    * null vector stays null (it scores cosine 0, as the Catalyst kernel
    * scores it). */
  private[graft] def centroids(df: DataFrame): Array[(Long, Array[Float])] =
    read(df, "centroids") { d =>
      d.select(col("centroid_id").cast("long"), col("centroid_vec")).collect().map { r =>
        (r.getLong(0), if (r.isNullAt(1)) null else r.getSeq[Float](1).toArray)
      }
    }

  /** Empty the memo (called by [[Caches.release]]). */
  private[graft] def clear(): Unit = memo.clear()

  /** Number of memoized values (for tests). */
  private[graft] def size: Int = memo.size
}
