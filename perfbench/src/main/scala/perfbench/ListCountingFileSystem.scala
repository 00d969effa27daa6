package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path}

/** The local file system with directory listings counted (its Hadoop
  * statistics count none). Traced runs install it as `fs.file.impl`,
  * so store URLs stay plain `file:` paths and every code path that
  * branches on the scheme is unchanged. */
class ListCountingFileSystem extends LocalFileSystem {
  override def listStatus(f: Path): Array[FileStatus] = {
    ListCountingFileSystem.listings.incrementAndGet()
    super.listStatus(f)
  }
}

object ListCountingFileSystem {
  val listings = new AtomicLong()
}
