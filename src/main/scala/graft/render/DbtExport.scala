package graft.render

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import graft.core.Chain

/** dbt project exporter (≅ reference `to_dbt`,
  * rasgoql/primitives/transforms.py:377-419 + rasgoql/utils/dbt.py:99-176):
  * writes model.sql from the chain's rendered SQL, schema.yml from the
  * chain's Spark schema, and a minimal dbt_project.yml. A file whose
  * content already equals the new text is not rewritten.
  */
object DbtExport {

  def toDbt(chain: Chain, outputDir: String, modelName: String,
            materialize: String = "view"): Seq[String] = {
    val dir = Paths.get(outputDir)
    Files.createDirectories(dir)
    val modelSql =
      s"{{ config(materialized='${materialize.toLowerCase}') }}\n\n${chain.sql()}\n"
    val schemaYml = {
      val cols = chain.schema.fields.map { f =>
        s"      - name: ${f.name}\n        description: '${f.dataType.simpleString}'"
      }.mkString("\n")
      s"""version: 2
         |models:
         |  - name: $modelName
         |    columns:
         |$cols
         |""".stripMargin
    }
    val projectYml =
      s"""name: '$modelName'
         |version: '1.0.0'
         |config-version: 2
         |profile: 'graft'
         |model-paths: ["models"]
         |models:
         |  $modelName:
         |    +materialized: ${materialize.toLowerCase}
         |""".stripMargin
    val models = dir.resolve("models")
    Files.createDirectories(models)
    val written = Seq(
      models.resolve(s"$modelName.sql") -> modelSql,
      models.resolve("schema.yml") -> schemaYml,
      dir.resolve("dbt_project.yml") -> projectYml)
    // a file already holding the text is left alone: replacing even a
    // small file can cost tens of milliseconds on some filesystems, and a
    // re-export of an unchanged chain would pay it three times
    written.foreach { case (p, content) =>
      val bytes = content.getBytes(StandardCharsets.UTF_8)
      val same = Files.isRegularFile(p) && Files.size(p) == bytes.length &&
        java.util.Arrays.equals(Files.readAllBytes(p), bytes)
      if (!same) Files.write(p, bytes)
    }
    written.map(_._1.toString)
  }
}
