package graft.streamlog

/** Test fixture: a SEPARATE PROCESS that replays the executor side of
  * a signed DSv2 read with a GENUINELY EMPTY [[S3Auth]] registry — the
  * cluster condition ADVICE r15 named as uncatchable in local mode
  * (driver and executors share one JVM there, so the driver's
  * registration leaks into every "executor" lookup). This JVM never
  * calls `S3Auth.register`; its only credential source is the
  * (endpoint, creds) snapshot a [[graft.sources.StreamLogPartition]]
  * carries — exactly what a deserialized partition would hand a real
  * executor task. It builds the partition + reader directly
  * (Spark-free: an s3: scan's reader factory holds no Hadoop conf,
  * which is broadcast once per scan only for path-bearing roots, so
  * its GET path needs no session or context) and prints the row count
  * it streamed, signed.
  *
  * args: endpoint bucket stream segmentName accessKey secretKey
  *       [sessionToken]
  */
object FreshJvmReader {
  def main(args: Array[String]): Unit = {
    val Seq(endpoint, bucket, stream, seg, ak, sk) = args.toSeq.take(6)
    val creds = SigV4Credentials(ak, sk,
      sessionToken = args.toSeq.drop(6).headOption.filter(_.nonEmpty))
    require(S3Auth.forEndpoint(endpoint).isEmpty,
      "this fixture must start with an empty credential registry")
    val root = s"s3:$endpoint/$bucket"
    val p = graft.sources.StreamLogPartition(root, stream, seg,
      Offset.Beginning, "", None,
      Some(AuthSnapshot(endpoint, creds, System.currentTimeMillis())))
    // an s3: scan's factory carries no Hadoop conf (it is broadcast only
    // for path-bearing roots), so this one needs no Spark context either
    val factory = graft.sources.StreamLogReaderFactory(conf = None)
    val reader = factory.createReader(p)
    var n = 0
    while (reader.next()) { reader.get(); n += 1 }
    reader.close()
    println(s"ROWS $n")
    Console.out.flush()
  }
}
