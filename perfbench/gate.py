"""Correctness gate: a table's final state against the replay oracle."""

from __future__ import annotations

import pandas as pd


def compare(got: pd.DataFrame, want: pd.DataFrame, columns: list[str],
            lang_col: str) -> list[str]:
    """Problems found comparing the engine's resolved table ``got`` with
    the oracle state ``want``: the same url set, byte-identical text,
    language, warc_ts and seq per url, and the schema the in-band DDL
    left (``columns``). An empty list means the state is correct."""
    problems = []
    if sorted(got.columns) != sorted(columns):
        problems.append(f"schema {sorted(got.columns)} != oracle {sorted(columns)}")
        return problems
    g = got.sort_values("url").reset_index(drop=True)
    w = want.sort_values("url").reset_index(drop=True)
    if list(g["url"]) != list(w["url"]):
        only_g = set(g["url"]) - set(w["url"])
        only_w = set(w["url"]) - set(g["url"])
        problems.append(f"url sets differ: engine {len(g)} rows, oracle {len(w)};"
                        f" {len(only_g)} only in engine, {len(only_w)} only in oracle")
        return problems
    for c in ("text", lang_col, "warc_ts", "seq"):
        a, b = g[c].tolist(), w[c].tolist()
        bad = [i for i, (x, y) in enumerate(zip(a, b))
               if not (x == y or (pd.isna(x) and pd.isna(y)))]
        if bad:
            problems.append(f"{c} differs on {len(bad)} urls, first {g['url'][bad[0]]}")
    return problems
