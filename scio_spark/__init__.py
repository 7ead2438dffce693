"""scio_spark — a PySpark-native analytics engine with the operator surface of
spotify/scio (Scala/Beam), re-expressed idiomatically on DataFrame / Spark SQL /
Structured Streaming.

Reference (read-only, public): /root/reference — see SURVEY.md for the full
operator inventory with file:line citations. This package is NOT a port: scio's
"optimizer" is its API surface (manual join-flavor selection, fanout hints);
ours is Catalyst + AQE, so most of scio's machinery collapses into declarative
DataFrame plans.

Layout:
  context.py            ScioContext (SparkSession wrapper, reads, test IO substitution)
  collection.py         SCollection — element-wise / aggregation / sampling ops
  pair.py               PairSCollection — keyed ops (*ByKey) and the join suite
  operators/joins.py    hash/sparse/skewed/multi join + Sparkey-analog KV store
  operators/smb.py      sort-merge-bucket analog (bucketBy/sortBy writer + reader)
  operators/windows.py  fixed/sliding/session/calendar/capped windowing
  operators/merge.py    partition-pruned MERGE INTO / DELETE for parquet lakes
  operators/range_join.py  interval (range) join via bucket quantization
  operators/fuzzy_join.py  edit-distance join (q-gram count filter + bands)
  operators/enrich.py   safeFlatMap/pipe/mapWithResource/async lookups/readFiles
  functions/sketches.py approx distinct (HLL), CMS heavy hitters, rollups
  functions/tdigest.py  mergeable t-digest quantile sketches + bucketing
  functions/bloom.py    Bloom / scalable Bloom filters
  functions/text.py     lang-id, quality, tokens, LM scoring, TF-IDF, PII,
                        chunking, winnowing fingerprints
  functions/dedup.py    exact / MinHash-LSH / SimHash / n-gram-Jaccard dedup,
                        clustering, decontamination, contamination fraction,
                        incremental indexes
  functions/substr_dedup.py  exact-substring dedup (+ incremental index)
  functions/semdedup.py embedding-space SemDeDup (+ incremental index)
  functions/dsir.py     DSIR importance selection toward a target corpus
  functions/retrieval.py   top-k core: side-input guard, candidate cut, exact rescore
  functions/similarity.py  cosine top-k: brute GEMM / LSH / SQ8 / gated HNSW
  functions/ivf.py      IVF coarse quantizer + persisted probe index
  functions/pq.py       product quantization (ADC, IVF-PQ)
  functions/bpe.py      trainable BPE tokenizer (histogram-bounded)
  functions/training.py mixing, splits, shuffle, shards, packing
  functions/privacy.py  k-anonymity audit + suppression
  functions/quality_model.py  trained quality classifier (HashingTF)
  functions/multimodal.py  binary image/audio columns, real PPM/WAV codecs
  functions/layout.py   z-order layout clustering
  sources/              text/csv/json/xml/orc/avro/proto/tfrecord/webdataset/
                        arrow-ipc codecs, connectors (gated), IO registry
  streaming/            watermark/stateful helpers, element-count + discarding
                        pane triggers, continuous rollup, TestStream fixture
  plans/lint.py         plan inspection: shuffles, pushdown, all-pairs lint
"""

from scio_spark.context import ScioContext, ScioResult
from scio_spark.collection import SCollection
from scio_spark.pair import PairSCollection

__version__ = "0.1.0"

__all__ = ["ScioContext", "ScioResult", "SCollection", "PairSCollection"]
