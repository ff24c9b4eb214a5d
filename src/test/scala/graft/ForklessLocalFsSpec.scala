package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileContext, Options, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.{FsCreateModes, FsPermission}
import org.apache.spark.sql.Encoders
import graft.streaming.{OrderEvent, PaymentEvent, Sinks, Topologies}

/** [[ForklessLocalFs]] answers every call it takes over exactly as the
  * stock Hadoop local filesystem does, keeps both checksum layers of a
  * streaming checkpoint, and a checkpointed stream starts no process
  * from Hadoop's filesystem code.
  */
class ForklessLocalFsSpec extends SparkSpec {
  import spark.implicits._

  private def initialized(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }
  private lazy val stock = initialized(new RawLocalFileSystem)
  private lazy val forkless = initialized(new ForklessRawLocalFileSystem)

  private def octal(s: String): Int = Integer.parseInt(s, 8)
  private def perm(s: String): FsPermission = new FsPermission(octal(s).toShort)
  private def mode(p: JPath): String = PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  private def linkStatus(fs: RawLocalFileSystem, p: Path): Either[String, Seq[Any]] =
    try {
      val s = fs.getFileLinkStatus(p)
      Right(Seq(s.getPath, s.getLen, s.isDirectory, s.isSymlink, s.getModificationTime) ++
        (if (s.isSymlink) Seq(s.getSymlink) else Nil))
    } catch { case e: FileNotFoundException => Left(e.getMessage) }

  test("getFileLinkStatus equals the stock lookup: file, directory, missing path, symlink") {
    val dir = Files.createTempDirectory("graft-forkless")
    val file = Files.write(dir.resolve("file"), "twelve bytes".getBytes("UTF-8"))
    val sub = Files.createDirectory(dir.resolve("dir"))
    val missing = dir.resolve("missing")
    val link = Files.createSymbolicLink(dir.resolve("link"), file)
    // qualified `file:` paths (what FileContext passes) and bare ones
    for (p <- Seq(file, sub, missing, link); hp <- Seq(new Path(p.toUri), new Path(p.toString)))
      assert(linkStatus(forkless, hp) === linkStatus(stock, hp), hp)
    // the four cases are really distinct outcomes
    assert(linkStatus(stock, new Path(file.toString)).exists(_(1) == 12L))
    assert(linkStatus(stock, new Path(sub.toString)).exists(_(2) == true))
    assert(linkStatus(stock, new Path(missing.toString)).isLeft)
    assert(linkStatus(stock, new Path(link.toString)).exists(_(3) == true))
  }

  test("setPermission leaves the stock mode bits (0644, 0600, 0755, a umasked create mode)") {
    val dir = Files.createTempDirectory("graft-forkless-mode")
    val cases = Seq(
      perm("644") -> "rw-r--r--",
      perm("600") -> "rw-------",
      perm("755") -> "rwxr-xr-x",
      // what FileContext.create passes: its toString is not the rwx form
      FsCreateModes.applyUMask(perm("666"), perm("022")) ->
        "rw-r--r--")
    for (((perm, expected), i) <- cases.zipWithIndex) {
      val Seq(a, b) = Seq("stock", "forkless").map { n =>
        val f = Files.write(dir.resolve(s"$n$i"), Array[Byte](1))
        Files.setPosixFilePermissions(f, PosixFilePermissions.fromString("rwxrwxrwx"))
        f
      }
      stock.setPermission(new Path(a.toUri), perm)
      forkless.setPermission(new Path(b.toUri), perm)
      assert(mode(a) === expected)
      assert(mode(b) === expected)
    }
    // directories: a plain one, and a setgid one whose bit `chmod` keeps
    def dirMode(fs: RawLocalFileSystem, name: String, setgid: Boolean): Int = {
      val d = Files.createDirectory(dir.resolve(name))
      if (setgid) assert(new ProcessBuilder("chmod", "2755", d.toString).start().waitFor() === 0)
      fs.setPermission(new Path(d.toUri), perm("750"))
      Files.getAttribute(d, "unix:mode").asInstanceOf[Int] & octal("7777")
    }
    for ((setgid, expected) <- Seq(false -> "750", true -> "2750")) {
      assert(dirMode(stock, s"stock-$setgid", setgid) === octal(expected))
      assert(dirMode(forkless, s"forkless-$setgid", setgid) === octal(expected))
    }
  }

  test("FileContext create + rename through ForklessLocalFs leaves a valid .crc sidecar") {
    val conf = new Configuration()
    conf.set("fs.AbstractFileSystem.file.impl", classOf[ForklessLocalFs].getName)
    val dir = Files.createTempDirectory("graft-forkless-fc")
    val fc = FileContext.getFileContext(dir.toUri, conf)
    assert(fc.getDefaultFileSystem.getClass === classOf[ForklessLocalFs])
    val (tmp, dst) = (new Path(dir.resolve("1.tmp").toUri), new Path(dir.resolve("1").toUri))
    val bytes = "offset log entry".getBytes("UTF-8")
    val out = fc.create(tmp, EnumSet.of(CreateFlag.CREATE))
    out.write(bytes)
    out.close()
    fc.rename(tmp, dst, Options.Rename.OVERWRITE)
    assert(Files.exists(dir.resolve(".1.crc")))
    assert(!Files.exists(dir.resolve("1.tmp")) && !Files.exists(dir.resolve(".1.tmp.crc")))
    // the FileSystem API verifies the sidecar the FileContext path wrote
    val fs = new ForklessLocalFileSystem
    fs.initialize(URI.create("file:///"), conf)
    def readBack(): Array[Byte] = {
      val in = fs.open(dst)
      try in.readAllBytes() finally in.close()
    }
    assert(readBack() === bytes)
    // flip one byte in place: the sidecar must catch it on read
    Files.write(dir.resolve("1"), bytes.updated(0, 'O'.toByte))
    intercept[ChecksumException](readBack())
  }

  test("FileContext.open through ForklessLocalFs verifies the .crc sidecar; a file without one reads") {
    val conf = new Configuration()
    conf.set("fs.AbstractFileSystem.file.impl", classOf[ForklessLocalFs].getName)
    val dir = Files.createTempDirectory("graft-forkless-open")
    val fc = FileContext.getFileContext(dir.toUri, conf)
    def readBack(p: JPath): Array[Byte] = {
      val in = fc.open(new Path(p.toUri))
      try in.readAllBytes() finally in.close()
    }
    val bytes = "commit log entry".getBytes("UTF-8")
    val out = fc.create(new Path(dir.resolve("1").toUri), EnumSet.of(CreateFlag.CREATE))
    out.write(bytes)
    out.close()
    assert(Files.exists(dir.resolve(".1.crc")))
    assert(readBack(dir.resolve("1")) === bytes)
    // flip one byte in place: the checkpoint read path must catch it
    Files.write(dir.resolve("1"), bytes.updated(0, 'C'.toByte))
    intercept[ChecksumException](readBack(dir.resolve("1")))
    // written outside Hadoop, so no sidecar: read unchecked
    val plain = Files.write(dir.resolve("plain"), bytes)
    assert(!Files.exists(dir.resolve(".plain.crc")))
    assert(readBack(plain) === bytes)
  }

  /** `Topologies.paidOrders` from JSON file sources (one file per source
    * per micro-batch) to the parquet sink with a checkpoint, run inside a
    * JFR recording of process starts. After the stream, one stock
    * `RawLocalFileSystem.setPermission` runs in the same recording, so the
    * recording is known to see a Hadoop fork. Returns the checkpoint dir,
    * the last batch id, the sink row count and the recorded events.
    */
  private lazy val checkpointedRun: (JPath, Long, Long, Seq[RecordedEvent]) = {
    val root = Files.createTempDirectory("graft-forkless-stream")
    val (oIn, pIn) = (Files.createDirectory(root.resolve("orders")),
      Files.createDirectory(root.resolve("payments")))
    val (out, ckpt) = (root.resolve("out"), root.resolve("ckpt"))
    for (k <- 0 until 3) {
      val t = s"2024-01-01T00:0$k:00Z"
      Files.writeString(oIn.resolve(s"$k.json"),
        s"""{"orderId":"o$k","user":"alice","products":["p"],"amount":100.0,"ts":"$t"}""")
      Files.writeString(pIn.resolve(s"$k.json"), s"""{"orderId":"o$k","status":"PAID","ts":"$t"}""")
    }
    def src(dir: JPath, schema: org.apache.spark.sql.types.StructType) =
      spark.readStream.option("maxFilesPerTrigger", "1").schema(schema).json(dir.toString)
    val profiles = Seq(("alice", "gold")).toDF("user", "profile")
    val discounts = Seq(("gold", 0.5)).toDF("profile", "amount")
    val control = Files.write(root.resolve("control"), Array[Byte](1))

    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    val lastBatch = try {
      val q = Sinks.toParquet(Topologies.paidOrders(
          src(oIn, Encoders.product[OrderEvent].schema),
          src(pIn, Encoders.product[PaymentEvent].schema), profiles, discounts),
        out.toString, ckpt.toString).start()
      try q.processAllAvailable() finally q.stop()
      stock.setPermission(new Path(control.toUri), perm("600"))
      q.lastProgress.batchId
    } finally rec.stop()
    val jfr = root.resolve("forks.jfr")
    rec.dump(jfr)
    rec.close()
    (ckpt, lastBatch, spark.read.parquet(out.toString).count(),
      RecordingFile.readAllEvents(jfr).asScala.toSeq)
  }

  private def frames(e: RecordedEvent): Seq[String] =
    Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
      .map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}")

  test("a checkpointed paidOrders stream starts no process from Hadoop's filesystem code") {
    val (_, lastBatch, rows, events) = checkpointedRun
    assert(lastBatch >= 2, "at least three micro-batches")
    assert(rows === 3L)
    val hadoopFs = events.filter(_.getEventType.getName == "jdk.ProcessStart")
      .map(frames).filter(_.exists(_.startsWith("org.apache.hadoop.fs.")))
    // exactly the stock control call: the recording sees Hadoop forks, and
    // the stream made none
    assert(hadoopFs.size === 1, hadoopFs.map(_.take(12).mkString(" < ")).mkString("\n"))
    assert(hadoopFs.head.contains("org.apache.hadoop.fs.RawLocalFileSystem.setPermission"))
    assert(!hadoopFs.head.exists(_.startsWith(classOf[ForklessRawLocalFileSystem].getName)))
  }

  test("the checkpoint keeps Spark's state-file checksums and Hadoop's .crc sidecars") {
    assert(spark.conf.get("spark.sql.streaming.checkpoint.fileChecksum.enabled") === "true")
    val (ckpt, _, _, _) = checkpointedRun
    val names = scala.util.Using.resource(Files.walk(ckpt.resolve("state"))) {
      _.iterator().asScala.filter(Files.isRegularFile(_)).map(_.getFileName.toString).toList
    }
    val (hadoopCrc, sparkCrc) = names.filter(_.endsWith(".crc")).partition(_.startsWith("."))
    assert(names.exists(_.endsWith(".delta")))
    // every state delta has Spark's checksum file and Hadoop's sidecar
    for (delta <- names.filter(_.endsWith(".delta"))) {
      assert(sparkCrc.contains(s"$delta.crc"), delta)
      assert(hadoopCrc.contains(s".$delta.crc"), delta)
    }
  }
}
