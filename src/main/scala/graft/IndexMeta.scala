package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.catalog.CatalogTable
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation,
  PartitioningAwareFileIndex}
import org.apache.spark.sql.functions.col

/** Index metadata — IVF centroid tables, PQ codebooks, the BM25 term
  * index ([[graft.operators.TextSearch]]) — kept on the driver. Probes,
  * assignment and the celled kernels need a few rows on the driver;
  * collecting them is a whole Spark job each time, which at fixture scale
  * costs more than the probe it serves. BM25 needs the analyzed corpus and
  * its N, avgdl and duplicated ids, which cost a pass over every document.
  *
  * [[read]] memoizes the decoded value only when the DataFrame is a bare
  * stored catalog table (what [[TableStore.getOrBuild]] returns). The key is
  * the table identifier, its `createTime`, and the (path, length, mtime) of
  * every file the relation listed when it was resolved — the listing a
  * collect would read. A rewrite, a drop and rebuild, or a generation flip
  * (a different physical table) therefore changes the key, and the next read
  * decodes again. Any other DataFrame is decoded on every call.
  *
  * One slot per (table, decoder), where the generations of one logical
  * table share a slot: a changed key replaces the old value. A replaced
  * value that is `AutoCloseable` (the term index, which holds persisted
  * blocks) is closed, and [[Caches.release]] closes every value as it
  * empties the memo. */
object IndexMeta {

  private final case class Key(table: String, createTime: Long,
                               files: Seq[(String, Long, Long)], scope: AnyRef)

  private val memo = new ConcurrentHashMap[(String, String), (Key, AnyRef)]()

  private def stripAliases(p: LogicalPlan): LogicalPlan = p match {
    case SubqueryAlias(_, child) => stripAliases(child)
    case other => other
  }

  private def relation(df: DataFrame): Option[(HadoopFsRelation, Option[CatalogTable])] =
    stripAliases(df.queryExecution.analyzed) match {
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation => Some((fs, l.catalogTable))
        case _ => None
      }
      case _ => None
    }

  /** The (path, length, mtime) of every file a bare file-source relation
    * listed when it was resolved, sorted; None for any other DataFrame. */
  private[graft] def listing(df: DataFrame): Option[Seq[(String, Long, Long)]] =
    relation(df).map(_._1.location).collect { case idx: PartitioningAwareFileIndex =>
      idx.allFiles().map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).sorted.toSeq
    }

  private def storedKey(df: DataFrame, scope: AnyRef): Option[Key] =
    for {
      (_, table) <- relation(df)
      t <- table
      files <- listing(df)
    } yield Key(t.identifier.unquotedString, t.createTime, files, scope)

  private def free(v: AnyRef): Unit = v match {
    case c: AutoCloseable => c.close()
    case _ =>
  }

  /** `decode(df)`, reused while `df`'s stored file set (and `scope`, compared
    * by reference) is unchanged; None when `df` is not a bare stored table.
    * `decoder` names the decoding: two decoders of one table never share a
    * slot. The returned value is shared — callers must not mutate it. */
  private[graft] def stored[T <: AnyRef](df: DataFrame, decoder: String, scope: AnyRef = null)(
      decode: DataFrame => T): Option[T] =
    storedKey(df, scope).map { key =>
      val slot = (key.table.replaceFirst("__gen\\d+$", ""), decoder)
      val hit = memo.get(slot)
      if (hit != null && hit._1 == key) hit._2.asInstanceOf[T]
      else {
        val v = decode(df)
        Option(memo.put(slot, (key, v))).foreach(old => if (old._2 ne v) free(old._2))
        v
      }
    }

  /** [[stored]], or `decode(df)` on every call for any other DataFrame. */
  private[graft] def read[T <: AnyRef](df: DataFrame, decoder: String)(decode: DataFrame => T): T =
    stored(df, decoder)(decode).getOrElse(decode(df))

  /** (centroid_id, centroid_vec) rows of a centroid table, ids as longs; a
    * null vector stays null (it scores cosine 0, as the Catalyst kernel
    * scores it). */
  private[graft] def centroids(df: DataFrame): Array[(Long, Array[Float])] =
    read(df, "centroids") { d =>
      d.select(col("centroid_id").cast("long"), col("centroid_vec")).collect().map { r =>
        (r.getLong(0), if (r.isNullAt(1)) null else r.getSeq[Float](1).toArray)
      }
    }

  /** Empty the memo, closing what it held (called by [[Caches.release]]). */
  private[graft] def clear(): Unit =
    memo.keySet.forEach(slot => Option(memo.remove(slot)).foreach(old => free(old._2)))

  /** Number of memoized values (for tests). */
  private[graft] def size: Int = memo.size
}
