"""fetch_pages' output batching, tested on pandas alone (no Spark)."""

import pandas as pd

from commentsearchengine_spark.operators.fetch import batch_slices


def test_batch_slices_cap_rows_and_keep_every_row():
    pdf = pd.DataFrame({
        "url_hash": range(10_000),
        "host": [f"site{i % 7:03d}.example.org" for i in range(10_000)],
    })
    chunks = list(batch_slices(iter([pdf, pdf.iloc[:10]]), 4096))
    assert [len(c) for c in chunks] == [4096, 4096, 1808, 10]
    pd.testing.assert_frame_equal(pd.concat(chunks[:3]), pdf)
    pd.testing.assert_frame_equal(chunks[3], pdf.iloc[:10])
