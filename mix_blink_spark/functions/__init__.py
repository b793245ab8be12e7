"""Vectorized kernels (Arrow pandas UDFs) and JVM-side column expressions.

The engine exposes exactly the UDF surface documented in SURVEY.md §2.8:
``extract_text`` (byte-stable), ``encode`` (dense embeddings), and the pair
scorers. Everything else stays in ``pyspark.sql.functions`` so Catalyst can
optimize it.
"""


def rechunk(batches, rows: int):
    """Regroup an Arrow UDF's input batches into lists holding at least
    ``rows`` rows (the last list may hold fewer).

    The session's Arrow batch cap is sized for multi-KB html cells
    (session.py), and batches are further cut at partition boundaries,
    so a pair-scoring UDF can see batches far smaller than its numpy
    kernel needs to amortize per-call overhead (at 128 rows that overhead
    measured ~25x the math). Buffering keeps the output's total length
    equal to the input's — the only contract SCALAR_ITER imposes. A batch
    is a tuple of Series (one per UDF argument, sized by the first) or a
    single Series / RecordBatch."""
    buf: list = []
    size = 0
    for batch in batches:
        buf.append(batch)
        size += len(batch[0] if isinstance(batch, tuple) else batch)
        if size >= rows:
            yield buf
            buf, size = [], 0
    if size:
        yield buf
