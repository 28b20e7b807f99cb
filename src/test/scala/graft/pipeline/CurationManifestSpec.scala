package graft.pipeline

import java.nio.file.Files

import graft.SparkSpec

/** The curation CLIs' manifest artifact: one renderer for both manifests
  * (the web manifest embeds every curated field) and one Hadoop-FS
  * writer, so `manifest.json` lands beside `curated/` on any filesystem
  * URI. Exercised directly: a CLI `main` would stop the shared session. */
class CurationManifestSpec extends SparkSpec {

  private val inner = CorpusCurate.Manifest(500, 67, 0, 21, 3, 2, 407, 25182, 20)

  test("the curated manifest renders every field, in declaration order") {
    assert(CorpusCurate.manifestJson(inner.fields) ==
      """{"input_docs":500,"quality_dropped":67,"exact_dup_dropped":0,""" +
        """"near_dup_dropped":21,"containment_dropped":3,"semantic_dropped":2,""" +
        """"kept_docs":407,"kept_tokens":25182,"shards":20}""")
  }

  test("the web manifest embeds the whole curated manifest") {
    val web = WebCurate.WebManifest(540, 30, 6, 4, inner)
    assert(CorpusCurate.manifestJson(web.fields) ==
      """{"pages":540,"url_dup_dropped":30,"domain_cap_dropped":6,""" +
        """"empty_extract_dropped":4,""" +
        CorpusCurate.manifestJson(inner.fields).drop(1))
  }

  test("writeText lands a file: URI at its real path, creating parents, and overwrites") {
    val root = Files.createTempDirectory("graft-manifest")
    val uri = root.resolve("out/nested").toUri.toString.stripSuffix("/")
    assert(uri.startsWith("file:"))
    JobStatus.writeText(spark, s"$uri/manifest.json", "{\"a\":1}")
    JobStatus.writeText(spark, s"$uri/manifest.json", "{\"a\":2}")
    val written = root.resolve("out/nested/manifest.json")
    assert(new String(Files.readAllBytes(written), "UTF-8") == "{\"a\":2}")
  }
}
