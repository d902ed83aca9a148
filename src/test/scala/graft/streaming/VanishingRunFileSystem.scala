package graft.streaming

import java.net.URI
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileStatus, FileUtil, Path, RawLocalFileSystem}

/** The local file system under the `vanishing` scheme, on which a dir
  * passed to [[VanishingRunFileSystem.doom]] is deleted by its next
  * `listStatus` — which then fails the way `RawLocalFileSystem` does
  * when the dir disappears between its `exists` check and its listing:
  * `FileUtil.list` finds it unreadable and throws
  * `AccessDeniedException`. Register it with
  * `fs.vanishing.impl = graft.streaming.VanishingRunFileSystem`.
  */
class VanishingRunFileSystem extends RawLocalFileSystem {
  override def getUri: URI = VanishingRunFileSystem.Uri

  override def listStatus(f: Path): Array[FileStatus] = {
    val file = pathToFile(f)
    if (VanishingRunFileSystem.doomed.remove(file.getAbsolutePath)) {
      FileUtil.fullyDelete(file)
      throw new java.nio.file.AccessDeniedException(
        file.toString, null, "Permission denied")
    }
    super.listStatus(f)
  }
}

object VanishingRunFileSystem {
  val Uri: URI = URI.create("vanishing:///")

  private val doomed = ConcurrentHashMap.newKeySet[String]()

  /** Deletes `dir` at its next listing, as a concurrent sweep would. */
  def doom(dir: java.io.File): Unit = doomed.add(dir.getAbsolutePath)

  /** Whether some doomed dir was never listed. */
  def pending: Boolean = !doomed.isEmpty
}
