"""Synthetic transcript generator: conversation ids are unique for every
turn id (no fixed-width truncation) and unchanged for the ids every
fixture and benchmark corpus uses."""

from __future__ import annotations

import numpy as np

from open_source_search_engine_spark.sources.transcripts import (
    TURNS_PER_CONV,
    generate_batch,
)


def test_conv_ids_do_not_truncate_past_eight_digits():
    gids = np.array([0, 7, 800_000_000, 800_000_000 + TURNS_PER_CONV])
    conv = generate_batch(gids)["conv_id"].tolist()
    assert conv[:2] == ["conv-00000000", "conv-00000000"]
    assert conv[2:] == ["conv-100000000", "conv-100000001"]
    assert conv[2] != conv[3]
