package graft.io

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

/** Driver-side memo of small immutable-by-convention metadata files
  * (manifests, stats and bloom sidecars), keyed on (path, mtime, length)
  * so a file dropped and recreated under the same name is re-read.
  *
  * The key is only collision-free once the file's mtime tick is safely in
  * the past: stores round mtime coarsely (S3A's HTTP Last-Modified is
  * 1-second; some local filesystems too), so a root dropped and recreated
  * within the SAME tick could produce a same-length file with an identical
  * key and the memo would serve the old content. A recreated file always
  * carries a fresh≈now mtime, so refusing to MEMOIZE anything whose mtime
  * is within [[SettledMemo.SettleMillis]] of now closes the hole: every
  * cached entry's mtime tick predates the caching instant by more than any
  * plausible granularity, and no later file at that path can land in that
  * tick. Fresh files (the read-own-commit window) just re-read a tiny file
  * a few times — correctness over a micro-optimization.
  *
  * Bounded by the summed lengths of the cached files (cleared whole when
  * the budget is exceeded — bounded, not LRU). A missing file is never
  * cached: `absent` answers it, and one stat per lookup stays the price
  * of every hit. */
private[graft] final class SettledMemo[V](maxBytes: Long) {
  private val entries = new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), V]()
  private val bytes = new java.util.concurrent.atomic.AtomicLong()

  def apply(fs: FileSystem, p: Path, absent: => V)(load: FileStatus => V): V = {
    val st =
      try fs.getFileStatus(p)
      catch { case _: java.io.FileNotFoundException => return absent }
    val key = (p.toString, st.getModificationTime, st.getLen)
    val hit = entries.get(key)
    if (hit != null) return hit
    val v = load(st)
    // settled files only; a future mtime (clock skew) is also unsettled
    if (st.getModificationTime < System.currentTimeMillis() - SettledMemo.SettleMillis) {
      if (bytes.addAndGet(st.getLen) > maxBytes) {
        entries.clear()
        bytes.set(st.getLen)
      }
      entries.put(key, v)
    }
    v
  }
}

private[graft] object SettledMemo {
  val SettleMillis = 5000L
}
