"""The cut chain (split.tier_df) on the rows the job routes, shared by
the split and htmlsplit tests.  The job spreads its oversized payloads
whole (pipeline.extracted_df); these tests keep the cut pinned."""

from __future__ import annotations

from webextract.pipeline import extracted_df, oversized
from webextract.split import tier_df
from webextract.udfs import extract_input_cols


def cut_df(pages, opt, split_bytes):
    """``split.tier_df`` over the payloads at the ``split_bytes`` bar
    (pipeline.oversized), the plain kernel over the rest."""
    src = pages.select(*extract_input_cols(pages.columns))
    big = oversized(split_bytes)
    return extracted_df(src.filter(~big), opt).unionByName(
        tier_df(src.filter(big), opt, split_bytes))
