package graft

/** Core data model for the fulltext engine.
  *
  * Capability graft of mini-ivf's index structures (SURVEY.md §1.3) onto
  * classic IR inverted-index structures:
  *   - posting_lists_ / db_codes_ (reference `include/index_ivf.hpp:83-84`)
  *     → [[PostingRow]]: per-(term, bucket) compressed posting blocks.
  *   - codebooks (`include/quantizer.hpp:39`) → [[CorpusStats]] + per-term
  *     df table (the "trained model" broadcast at query time).
  *   - query results (`include/index_ivf.hpp:54-64` ids+dists)
  *     → [[Hit]] (query_id, rank, doc_id, score_micro).
  *
  * All user-facing columns are snake_case so the driver's DuckDB oracle
  * (column-name-sorted hash compare) lines up exactly.
  */

/** One compressed block of up to `blockSize` postings (analog of a PQ code
  * block per cluster, `src/index_ivfpq.cpp:111-117`). Self-contained:
  * `bytes` is a VByte stream of (docId₀, then gaps) interleaved with
  * (tf, dl) per posting — see [[Codec]]. Header fields bound the block:
  * an upper bound of any BM25 contribution inside it is
  * `bm25TfNorm(max_tf, min_dl)` (monotone ↑ in tf, ↓ in dl), valid under
  * ANY global (N, avgdl, df) — so blocks survive segment merges unchanged.
  */
final case class Block(
    max_doc: Long,
    n: Int,
    max_tf: Int,
    min_dl: Int,
    bytes: Array[Byte],
    codec: Int = 0 // Codec.VByteId | Codec.PForId — blocks self-describe,
                   // so indexes built with different codecs concat-merge
                   // without re-encoding (see Codec.scala)
)

/** One posting sub-list: all postings of `term` within docId bucket
  * `bucket` (bucket = doc_id / bucketWidth for salted head terms, else 0).
  * `part_id = pmod(xxhash64(term, bucket), P)` — the salted term-partition
  * key (north-rule: explicit skew handling; analog of the reference's
  * per-cluster segment files `pqcode_<no>.ivecs`, `src/index_ivfpq.cpp:496-530`).
  */
final case class PostingRow(
    part_id: Int,
    term: String,
    bucket: Int,
    n: Long,
    cf: Long, // Σ tf within this sub-list: term stats derive from segments
    min_doc: Long,
    blocks: Seq[Block]
)

/** Decoded posting (for verification / oracle cross-checks). */
final case class Posting(term: String, doc_id: Long, tf: Long, dl: Long)

/** Global corpus statistics — the "codebook" of the graft (reference
  * Train(), `src/index_ivf.cpp:39-70`). avgdl is derived, not stored, so
  * it is bit-identical to the DuckDB oracle's sum/count. */
final case class CorpusStats(n_docs: Long, n_tokens: Long, max_doc_id: Long) {
  def avgdl: Double = n_tokens.toDouble / n_docs
}

/** A query of the fixed reference query set. */
final case class Query(query_id: Int, qtext: String)

/** One top-k result row. score_micro = Σ_terms floor(1e6·contrib + 0.5) —
  * integer micro-impact quantization makes the ranking key an
  * order-independent integer sum (rank-identical across engines). */
final case class Hit(query_id: Int, rank: Int, doc_id: Long, score_micro: Long)
