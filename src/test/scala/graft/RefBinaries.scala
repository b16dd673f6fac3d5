package graft

import java.nio.file.{Files, Paths, Path, StandardCopyOption}
import scala.sys.process._

/** Builds the reference engine's binaries (read-only tree at
  * /root/reference) into target/refbuild once per JVM, to serve as the
  * golden-output oracle for encode/render/enumerate/merge tests. */
object RefBinaries {
  private val srcDir = Paths.get("/root/reference")
  private val buildDir = Paths.get("target/refbuild").toAbsolutePath

  lazy val dir: Path = synchronized {
    val encode = buildDir.resolve("encode")
    if (!Files.exists(encode)) {
      if (Files.exists(buildDir)) {
        // wipe stale partial build
        Files.walk(buildDir).sorted(java.util.Comparator.reverseOrder())
          .forEach(p => Files.delete(p))
      }
      if (!Files.isDirectory(srcDir))
        throw new IllegalStateException(
          s"reference source tree $srcDir is missing: the golden tests build their oracle " +
            "binaries from it and cannot run without it")
      Files.createDirectories(buildDir)
      Files.list(srcDir).forEach { p =>
        if (Files.isRegularFile(p))
          Files.copy(p, buildDir.resolve(p.getFileName.toString), StandardCopyOption.REPLACE_EXISTING)
      }
      val rc = Process(Seq("make", "encode", "render", "enumerate", "merge", "render-raster"),
        buildDir.toFile).!(ProcessLogger(_ => (), _ => ()))
      require(rc == 0, "reference make failed")
    }
    buildDir
  }

  def available: Boolean =
    try { dir; true } catch { case _: Throwable => false }

  /** Run a reference binary; returns (exitCode, stdout bytes).
    * Uses file redirection (no pump-thread race on binary stdout). */
  def run(bin: String, args: Seq[String], stdin: Option[Array[Byte]] = None,
          cwd: Option[Path] = None): (Int, Array[Byte]) = {
    val outFile = Files.createTempFile("refout", ".bin")
    try {
      val pb = new java.lang.ProcessBuilder((dir.resolve(bin).toString +: args): _*)
      cwd.foreach(p => pb.directory(p.toFile))
      pb.redirectOutput(outFile.toFile)
      pb.redirectError(java.lang.ProcessBuilder.Redirect.DISCARD)
      val p = pb.start()
      stdin match {
        case Some(bytes) => p.getOutputStream.write(bytes); p.getOutputStream.close()
        case None => p.getOutputStream.close()
      }
      val rc = p.waitFor()
      (rc, Files.readAllBytes(outFile))
    } finally Files.deleteIfExists(outFile)
  }
}
