package graft

/** The 20 K-vector embeddings corpus shared by the specs that run
  * above the sf0.001-sf0.1 test data: sf0.1 embeddings ×10 via the
  * ScaleProbe fidelity contract (key remap + circular-shift
  * decorrelation), so the sign-LSH mask reaches p = 8 planes and the
  * query subset is 400 anchors. Generated once per workspace; the
  * _SUCCESS marker makes reruns free. Embeddings only — the Similarity
  * family reads no other table. */
object Synth20k {
  lazy val dir: String = {
    val out = "target/ab20k_synth"
    val marker = java.nio.file.Paths.get(s"$out/embeddings.parquet/_SUCCESS")
    if (!java.nio.file.Files.exists(marker))
      ScaleProbe.synthesize(SparkTestSession.spark,
        SparkTestSession.sf.replace("sf0.001", "sf0.1"), out, 10, Some(Set("embeddings")))
    out
  }
}
