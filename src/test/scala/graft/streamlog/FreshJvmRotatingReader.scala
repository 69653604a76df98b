package graft.streamlog

/** A [[CredentialProvider]] that re-reads a credentials FILE on every
  * resolve — the scaladoc's own example of a serializable provider (a
  * token file path, not a live client), and the realistic shape of an
  * instance-role deployment where an agent refreshes a file on disk.
  * Top-level class: serializing it captures only the path string. */
final class FileBackedProvider(path: String) extends CredentialProvider {
  override def resolve(): SigV4Credentials = {
    val lines = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), "UTF-8").split("\n", -1)
    SigV4Credentials(lines(0), lines(1),
      sessionToken = Some(lines(2)))
  }
}

/** Test fixture: the [[FreshJvmReader]] condition COMPOSED with token
  * rotation (r17) — a separate JVM whose only credential source is a
  * JAVA-SERIALIZED [[AuthSnapshot]] file (exactly what a deserialized
  * task closure hands a real executor), where the snapshot's plan-time
  * resolution is ALREADY STALE: the parent rotated the server after
  * taking the snapshot. The read must 403 once, refresh through the
  * DESERIALIZED provider (which re-reads the rotated credentials
  * file), and stream the rows signed — proving provider serialization
  * + executor-side refresh end-to-end across a process boundary, not
  * simulated with a second endpoint key in one registry.
  *
  * args: endpoint bucket stream segmentName snapshotFile
  */
object FreshJvmRotatingReader {
  def main(args: Array[String]): Unit = {
    val Seq(endpoint, bucket, stream, seg, snapFile) = args.toSeq.take(5)
    require(S3Auth.forEndpoint(endpoint).isEmpty,
      "this fixture must start with an empty credential registry")
    val in = new java.io.ObjectInputStream(
      java.nio.file.Files.newInputStream(java.nio.file.Paths.get(snapFile)))
    val snap = try in.readObject().asInstanceOf[AuthSnapshot] finally in.close()
    require(snap.provider.isDefined, "the snapshot must carry the provider")
    val p = graft.sources.StreamLogPartition(s"s3:$endpoint/$bucket", stream,
      Seq(SegmentRead(seg, "", None, 0L)), Offset.Beginning, "", Some(snap))
    val factory = graft.sources.StreamLogReaderFactory(conf = None)
    val reader = factory.createReader(p)
    var n = 0
    while (reader.next()) { reader.get(); n += 1 }
    reader.close()
    println(s"ROWS $n")
    Console.out.flush()
  }
}
