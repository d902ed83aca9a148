package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

/** `_manifest` sidecar for a bulk-load directory: one line per HFile
  * with the stats every planner consumer needs — `(relative path,
  * bucket, bytes, entry_count, min rowkey, max rowkey)` — written once
  * at job commit by [[graft.operators.BulkLoad.writeHFiles]], when the
  * writer already knows all of it.
  *
  * This is the parquet `_metadata` analogue for the scan side: without
  * it, file pruning / trailer stats / multiGet routing each need three
  * pooled short reads (trailer, first index key, LASTKEY) *per file* —
  * at ~100k files that is tens of seconds of driver metadata IO before
  * any task launches. With it, planning costs one small sequential read
  * regardless of directory size.
  *
  * Staleness safety: consumers call [[readValid]], which accepts the
  * sidecar only when its `(relative path, bytes)` set matches the
  * directory's actual `bucket=* / *.hfile` listing exactly — a listing
  * the caller already has. Any added, removed, or resized file makes
  * the sidecar invalid and the consumer falls back to pooled per-file
  * reads, so a sidecar can make planning faster but never wrong.
  * Verbs that rewrite file *content* in place under the same name and
  * size (only [[graft.operators.BulkLoad.restore]]) delete the sidecar
  * explicitly, since (path, bytes) matching cannot see them.
  *
  * Format: a version header, then one TAB-separated line per file with
  * min/max rowkeys hex-encoded (rowkeys are arbitrary bytes). Written
  * to a temp name and renamed, so readers never observe a partial
  * sidecar.
  */
object HFileManifest {
  val FileName = "_manifest"
  private val Header = "graft-hfile-manifest\tv1"

  /** One HFile's stats. `file` is root-relative (`bucket=N/part-...`),
    * `minHex`/`maxHex` are uppercase-hex rowkeys (empty only for a
    * cell-less file, which the writers never produce).
    */
  case class Entry(file: String, bucket: Int, bytes: Long,
                   entryCount: Long, minHex: String, maxHex: String) {
    def minKey: Array[Byte] = fromHex(minHex)
    def maxKey: Array[Byte] = fromHex(maxHex)
  }

  def toHex(b: Array[Byte]): String = b.map(x => f"$x%02X").mkString

  def fromHex(s: String): Array[Byte] =
    s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  def write(fs: FileSystem, root: Path, entries: Seq[Entry]): Unit = {
    val tmp = new Path(root, s"._manifest.tmp-${java.util.UUID.randomUUID}")
    val out = fs.create(tmp, true)
    try {
      val sb = new StringBuilder(Header).append('\n')
      entries.sortBy(_.file).foreach { e =>
        require(!e.file.contains('\t') && !e.file.contains('\n'),
          s"unencodable file name in manifest: ${e.file}")
        sb.append(e.file).append('\t').append(e.bucket).append('\t')
          .append(e.bytes).append('\t').append(e.entryCount).append('\t')
          .append(e.minHex).append('\t').append(e.maxHex).append('\n')
      }
      out.write(sb.result().getBytes("UTF-8"))
    } finally out.close()
    val dest = new Path(root, FileName)
    fs.delete(dest, false)
    if (!fs.rename(tmp, dest)) {
      fs.delete(tmp, false)
      throw new java.io.IOException(s"could not commit manifest $dest")
    }
  }

  /** The sidecar's entries, or None when absent or malformed (never
    * throws for a bad sidecar — planning falls back to pooled reads).
    */
  private def read(fs: FileSystem, root: Path): Option[Seq[Entry]] = {
    val p = new Path(root, FileName)
    try {
      if (!fs.exists(p)) return None
      val in = fs.open(p)
      val bytes =
        try {
          val len = fs.getFileStatus(p).getLen
          require(len <= (1L << 30), s"manifest too large: $len")
          val buf = new Array[Byte](len.toInt)
          in.readFully(0, buf)
          buf
        } finally in.close()
      val lines = new String(bytes, "UTF-8").split("\n").toSeq
      if (lines.isEmpty || lines.head != Header) return None
      Some(lines.tail.filter(_.nonEmpty).map { l =>
        val f = l.split("\t", -1)
        require(f.length == 6, s"bad manifest line: $l")
        Entry(f(0), f(1).toInt, f(2).toLong, f(3).toLong, f(4), f(5))
      })
    } catch { case _: Exception => None }
  }

  /** [[read]], accepted only when the sidecar matches `listing` (the
    * directory's actual `bucket=* / *.hfile` statuses) exactly by
    * (relative path, length). Entries come back in `listing` order so
    * callers can zip them with their own per-file bookkeeping.
    */
  def readValid(fs: FileSystem, root: Path,
                listing: Seq[FileStatus]): Option[Seq[Entry]] =
    read(fs, root).flatMap { entries =>
      val byRel = entries.map(e => e.file -> e).toMap
      val actual = listing.map(s => relOf(s.getPath) -> s.getLen)
      if (byRel.size == entries.size && actual.size == entries.size &&
          actual.forall { case (rel, len) =>
            byRel.get(rel).exists(_.bytes == len) })
        Some(actual.map { case (rel, _) => byRel(rel) })
      else None
    }

  def delete(fs: FileSystem, root: Path): Unit =
    fs.delete(new Path(root, FileName), false)

  /** `bucket=N/name` — the last two path segments. */
  def relOf(p: Path): String = s"${p.getParent.getName}/${p.getName}"
}
