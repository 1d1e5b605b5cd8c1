"""Operator library — the ``variation6``-equivalent surface.

Module map to the reference inventory (SURVEY.md §2.1):

- ``stats``       axis reductions C1-C11 (rates, category counts/shares,
                  major/minor frequency, heterozygosity, moments, histogram)
- ``filters``     predicate operators D1-D9 with kept/filtered accounting
- ``transforms``  row-wise transforms B3-B6 (masking, recode, subsetting)
- ``asof``        as-of join (extension; union+window, single shuffle)
- ``sessionize``  gaps-and-islands sessionization (extension)
- ``dedup``       exact + MinHash-LSH (one codegen signature kernel, an
                  Arrow engine of it; near_dup_report verifies pairs by
                  n-gram Jaccard + edit distance) + SimHash (portable
                  signatures, Hamming-ball pairs within/between sets) +
                  keeper clustering + guarded end-to-end near_dup_keepers
- ``similarity``  cosine top-k (brute force + multi-probe LSH ANN),
                  LSH/IVF pair generation, k-means coarse quantizer
- ``text``        language-ID, quality scoring, Gopher rules, TF-IDF/
                  BM25, PII redaction, token stats, fingerprints
- ``contamination`` benchmark overlap: exact n-gram + SimHash near match
- ``sampling``    deterministic splits/samples/rebalance + leakage audit
- ``packing``     sequence packing into token-budget bins; shard deal
- ``profile``     single-pass corpus profile (HLL distincts, rollup)
- ``embeddings``  vector hygiene: norms, NaN/dim checks, normalization
- ``skew``        salting for hot keys (deterministic content salts)
- ``multimodal``  binary media columns: schema + Arrow-batched UDF plumbing
                  + real zero-dependency codecs (PNG/JPEG/GIF/AVI/WAV/
                  ADPCM) with honest raises for library-bound ones
- ``media_containers`` MP3/MP4/WebM container parsing + frame byte
                  segmentation (stdlib)
- ``avi``         AVI (RIFF) container walk + MJPEG fixtures
- ``jpeg``/``gif`` table-driven JPEG (baseline+progressive) and GIF
                  (LZW, composition) codecs, numpy+stdlib
- ``media_fingerprint`` perceptual pHash/dHash, audio spectral
                  fingerprint + STFT spectrogram, media near-dup pairs,
                  image/audio quality gates
- ``html``        crawl HTML -> text (link-density boilerplate gate),
                  link extraction, url_host
- ``graph``       crawl-graph degree census + PageRank power iteration
- ``bpe``         byte-level BPE: sample-trained merges, zero-shuffle
                  broadcast encode / token counts
- ``media_metadata`` EXIF (TIFF IFD), ID3v2, SRT/VTT captions +
                  frame alignment, orientation-normalized pHash
- ``spandedup``   substring-level dedup: corpus-hot span detection,
                  voting, interval-fold removal (pure Catalyst)
- ``sketches``    mergeable sketches, pure Catalyst: HyperLogLog
                  distincts, DDSketch quantiles, Count-Min frequencies
                  (exact-merge register algebra; persisted store in
                  sources/sketch_store.py)
"""
