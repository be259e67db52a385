package graft.plans

import scala.collection.immutable.VectorMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** A table's ClickHouse definition, kept as one record file
  * (`_graft_table.txt`) in the table directory: the engine clauses the
  * CREATE front-end strips toward storage (`engine`, `columns`,
  * `order_by`, `partition_by`, `primary_key`, `sample_by`, `settings`,
  * `comment`), the TTL rule (`ttl`, `ttl_where`, `ttl_group_by`,
  * `ttl_set`), one `projection.<name>` key per SQL projection and one
  * `index.<name>` key per vector index. ClickHouse keeps the same
  * definition in one metadata file; SHOW CREATE TABLE answers from it.
  *
  * The file is `key=value` lines. A value escapes `\` as `\\` and a
  * newline as `\n`, so every value round-trips byte for byte. A
  * structured value is a list ([[fields]]): each element escaped the
  * same way and the elements joined by newlines.
  *
  * Keys keep the order they were first written in, so projections and
  * indexes list in declaration order. The leading underscore keeps the
  * file out of every data read and out of the content fingerprint.
  */
object TableRecord {

  type Record = Map[String, String]

  private val FileName = "_graft_table.txt"

  // parsed records cached per (table path, record mtime): the
  // projection optimizer rules read the record on every candidate plan
  private val cache = new java.util.concurrent.ConcurrentHashMap[String, (Long, Record)]()

  private[plans] def invalidate(path: String): Unit = cache.remove(path)

  /** The record of the table at `path`, empty when it has none. */
  def read(spark: SparkSession, path: String): Record = {
    val fs = ChCommands.fsOf(spark, path)
    val file = new Path(path, FileName)
    val mtime =
      try fs.getFileStatus(file).getModificationTime
      catch { case _: Exception => return VectorMap.empty } // no record
    val hit = cache.get(path)
    if (hit != null && hit._1 == mtime) return hit._2
    val in = fs.open(file)
    val text = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    val record = VectorMap.from(text.split("\n").iterator.filter(_.contains("=")).map { line =>
      val i = line.indexOf('=')
      line.substring(0, i) -> unescape(line.substring(i + 1))
    })
    cache.put(path, (mtime, record))
    record
  }

  /** Apply `f` to the table's record and persist the result (an empty
    * result removes the file). The new record is written beside the
    * old one and renamed over it, so a failed write leaves the old
    * record in place. */
  def update(spark: SparkSession, path: String)(f: Record => Record): Unit = synchronized {
    val next = f(read(spark, path))
    val fs = ChCommands.fsOf(spark, path)
    val file = new Path(path, FileName)
    try {
      if (next.isEmpty) fs.delete(file, false)
      else {
        val tmp = new Path(path, FileName + ".tmp")
        val out = fs.create(tmp, true)
        try out.write(next.map { case (k, v) => s"$k=${escape(v)}" }.mkString("\n").getBytes("UTF-8"))
        finally out.close()
        // POSIX rename replaces the target in one step; a store whose
        // rename refuses an existing target gets delete + rename
        if (!fs.rename(tmp, file)) {
          fs.delete(file, false)
          require(fs.rename(tmp, file), s"table record rename failed: $tmp -> $file")
        }
      }
    } finally invalidate(path)
  }

  /** Copy the record of table directory `from` into the rewritten
    * directory `to`, which is about to replace it (a whole-table
    * rewrite lands its data in a fresh directory). */
  private[plans] def carry(spark: SparkSession, from: String, to: String): Unit = {
    val fs = ChCommands.fsOf(spark, from)
    val (src, dst) = (new Path(from, FileName), new Path(to, FileName))
    if (fs.exists(src) && !fs.exists(dst))
      org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, dst, false, spark.sparkContext.hadoopConfiguration)
  }

  /** A list of strings as one record value. */
  def fields(xs: Seq[String]): String = xs.map(escape).mkString("\n")

  /** The inverse of [[fields]]; an empty value is the empty list. */
  def unfields(v: String): Seq[String] =
    if (v.isEmpty) Nil else v.split("\n", -1).toSeq.map(unescape)

  private def escape(v: String): String = v.replace("\\", "\\\\").replace("\n", "\\n")

  // left to right: sequential .replace calls would corrupt a value
  // holding a literal backslash followed by 'n'
  private def unescape(v: String): String = {
    val sb = new StringBuilder(v.length)
    var i = 0
    while (i < v.length) {
      val c = v.charAt(i)
      if (c == '\\' && i + 1 < v.length) {
        v.charAt(i + 1) match {
          case 'n'  => sb.append('\n')
          case '\\' => sb.append('\\')
          case o    => sb.append(c).append(o)
        }
        i += 2
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }
}
