package graft.build

/** The (name, layout-version) identity of every INCREMENTALLY-MAINTAINED
  * at-rest table — one constant per table, shared by the builder, the
  * append/replace path, the batch entry points, the bench, and the specs.
  * The per-document tables among them are declared once more, with their
  * upstream and derivation, in the `graft.operators.DocIndex` registry,
  * the dup pair/cluster tables as one of its stateful families
  * (`graft.operators.DocFamily`), and the vector-side tables, with their
  * quantizers, in the `graft.operators.VecIndex` registry; each registry
  * derives its tables' build, read, append, delete and compaction paths.
  * Before this object each site carried its own literal pair, so a version
  * bump in the read path (the documented procedure for layout changes)
  * could leave the write path appending to the retired directory: the
  * `_GRAFT_DONE` marker of the OLD version still satisfies `append`'s
  * guard, and ingested rows silently vanish from every query. Bump a
  * version HERE and both paths move together.
  *
  * (Query-only derived tables whose name encodes their own parameters —
  * the IVF/PQ/k-means families, dd7's threshold-named prefix family
  * (`DedupQueries.PrefixTable` + its df-snapshot/meta companions) — keep
  * their identity constants at their call sites.) */
object DocTables {
  // vector-side maintained tables (the root of operators.VecIndex);
  // EmbIndex v2: sig widened from the 32 banding planes to the 256-plane
  // rank signature (first 32 chars unchanged — band substrings still apply)
  val EmbIndex = ("emb_index", 2)
  val EmbSq = ("emb_sq", 1)

  val Shingles = ("doc_shingles", 1)
  // positional 5-token window hashes (dd11/dd12); the window width is baked
  // into the rows, so changing DedupQueries.WinW REQUIRES a version bump here
  val Windows = ("doc_windows", 1)
  val Minhash = ("doc_minhash", 1)
  val Bands = ("doc_mh_bands", 1)
  val Fingerprints = ("doc_fp", 1)
  val Sizes = ("doc_sizes", 1)
  val Postings = ("doc_postings", 1)
  // partial count-min-sketch cells (tx14); SUM-decomposable, so appends
  // write batch partials and reads fold. Depth/width are baked into the
  // rows — changing TextQueries.CmsDepth/CmsWidth REQUIRES a bump here
  val Cms = ("doc_cms", 1)
  val DupPairs = ("dup_pairs", 1)
  val DupClusters = ("dup_clusters", 1)
  // per-document media fingerprints (mm7 dHash + mm8 acoustic fp) — one
  // narrow row per image/audio asset; the band layout is baked into the
  // rows, so changing the hash construction REQUIRES a bump here
  val MediaFp = ("media_fp", 4) // v4: + adpcm_audio rows (real lossy audio decode)
  val TemporalAdj = ("temporal_adj", 2)
}
