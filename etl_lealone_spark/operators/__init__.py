"""Engine operators.

- ``dml``        : UPDATE/DELETE/MERGE/TRUNCATE as snapshot rewrites.
- ``recursive``  : recursive-CTE fixpoint loop.
- ``dedup``      : exact + MinHash-LSH + SimHash + n-gram Jaccard dedup.
- ``similarity`` : cosine ANN (brute-force baseline + LSH-bucketed).
- ``textops``    : language-ID, quality scoring, token counts, fingerprints.
- ``multimodal`` : RIFF/WAVE audio codec + clip statistics and resample.
"""
