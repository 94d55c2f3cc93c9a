package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

import java.nio.file.attribute.{BasicFileAttributes, FileTime}
import java.nio.file.{Files, Paths}

/** The parquet footer schema of one path — a TxLog segment, a
  * [[graft.Tables]] table or a scratch artifact — read once and then
  * served from memory. It is the schema `spark.read.parquet(path)` infers,
  * read from one footer on the driver
  * ([[org.apache.spark.sql.GraftSqlBridge.parquetSchema]]), so no Spark
  * job runs; the memo spares the listing and the footer read on every
  * snapshot, time-travel build and table reference.
  *
  * An entry is guarded by the path's file key (inode) and mtime, re-read
  * on every lookup (one `stat`): a path deleted and rewritten in place,
  * even with a new schema, gets a new inode or mtime and is inferred
  * afresh. At most [[MaxEntries]] schemas are held, least recently used
  * evicted first. A path that cannot be stat'ed (gone, or not a local
  * path) is read uncached.
  */
object FooterSchemas {
  private final case class Entry(fileKey: AnyRef, mtime: FileTime, schema: StructType)

  /** A schema is a few hundred bytes of field names and types. */
  private val MaxEntries = 4096

  private val memo = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, Entry](256, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String, Entry]): Boolean =
        size() > MaxEntries
    })

  def of(spark: SparkSession, path: String): StructType = {
    val attrs =
      try Some(Files.readAttributes(Paths.get(path), classOf[BasicFileAttributes]))
      catch { case _: java.io.IOException | _: java.nio.file.InvalidPathException => None }
    def read = org.apache.spark.sql.GraftSqlBridge.parquetSchema(spark, path)
    attrs.fold(read) { a =>
      Option(memo.get(path))
        .filter(e => e.fileKey == a.fileKey && e.mtime == a.lastModifiedTime)
        .fold {
          val s = read
          memo.put(path, Entry(a.fileKey, a.lastModifiedTime, s))
          s
        }(_.schema)
    }
  }
}
