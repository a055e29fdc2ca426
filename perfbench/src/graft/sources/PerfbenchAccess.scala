package graft.sources

/** The BAM reader's BGZF member walk, for the benchmark's kernel timings.
  * The walk is package-private to the sources layer. */
object PerfbenchAccess {

  /** Every BGZF member of `path` as (file offset, inflated bytes). */
  def bgzfMembers(path: String): Vector[(Long, Array[Byte])] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
    val len = fs.getFileStatus(p).getLen
    val in = fs.open(p)
    try BamFormat.bgzfMembers(in, len, 0L).toVector
    finally in.close()
  }
}
