package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

/** Writes the expected-digest file from a `graft.Verify` output dir whose
  * results passed `tools/check_oracle.py`:
  * {{{
  * perfbench.Expected <verify out dir> <digest file>
  * }}}
  * Each query's parquet dump is read back and digested exactly as the
  * timed op digests the live result. */
object Expected {
  def main(args: Array[String]): Unit = {
    val Array(verifyDir, outFile) = args
    val spark = Session.build(Runtime.getRuntime.availableProcessors(),
      Files.createTempDirectory("perfbench-expected").toString)
    val names = new File(verifyDir).listFiles.filter(_.isDirectory).map(_.getName).sorted
    val lines = names.map(n => s"""  "$n": "${Digest.of(spark.read.parquet(s"$verifyDir/$n"))}"""")
    Files.write(new File(outFile).toPath,
      lines.mkString("{\n", ",\n", "\n}\n").getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}
