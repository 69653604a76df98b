package graft.streamlog

import java.nio.charset.StandardCharsets.UTF_8

/** Test fixture: a SEPARATE PROCESS that claims writership of a stream,
  * fabricates the debris of a compaction caught mid-flight (a merged
  * segment put into `segments/` whose metadata commit never landed),
  * reports, then hangs
  * until the spec kill -9s it — the process-death half of the fencing
  * story that an in-JVM soak cannot exercise. Spark-free on purpose:
  * the claim is one conditional metadata append ([[MetaCommits]] over
  * [[PosixMetaStore]]), exactly what a dying coordinator would have
  * durably left behind.
  */
object DyingWriter {
  def main(args: Array[String]): Unit = {
    val root = args(0)
    val stream = args(1)
    val store = StreamStores.metaStore(root, stream)
    val epoch = MetaCommits.claimWriter(store, 0L)

    // mid-compaction debris, created while holding the claim: the
    // merge task put its segment, the commit never ran
    StreamStores.segmentStore(root, stream)
      .put("zzzz-uncommitted-merge.seg", "never committed\n".getBytes(UTF_8))

    // the spec waits for this line, then SIGKILLs us mid-"compaction"
    println(s"CLAIMED $epoch")
    Console.out.flush()
    Thread.sleep(600000)
  }
}
