package graft.sources

import java.io.InputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}

/** The reference's example pipeline (File CSV source → Pivot → File Avro
  * sink) and its `sample_data.csv` input, carried as classpath resources
  * under `graft/examples/`. Both are reconstructions; the README there
  * says what they were rebuilt from. The pipeline's macros are
  * `inputFile` and `outputDirectory`. */
object ExamplePipeline {

  private def resource(name: String): InputStream = {
    val in = getClass.getResourceAsStream(s"/graft/examples/$name")
    require(in != null, s"missing graft/examples/$name resource")
    in
  }

  /** The pipeline JSON, as [[PipelineRunner.run]] takes it. */
  lazy val json: String = {
    val in = resource("pivot_file_source_sink_example-cdap-data-pipeline.json")
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  /** Copies `sample_data.csv` into `dir` and returns the file's path:
    * Spark reads paths, not classpath resources. */
  def writeSampleCsv(dir: Path): String = {
    val in = resource("sample_data.csv")
    val out = Files.createDirectories(dir).resolve("sample_data.csv")
    try Files.copy(in, out, StandardCopyOption.REPLACE_EXISTING) finally in.close()
    out.toString
  }
}
