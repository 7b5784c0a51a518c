"""Result sinks (S15 CSV, S16 JSON stats payload, S9 graph pair).

Reference semantics:
- S15 CSV checkpoints: lab4 nb (cell 6, json 113) ``to_csv``;
  实习一/实习一代码/test.py:32.
- S16 JSON stats payloads: analyze_data_bias.py:497-517;
  lx_lightgbmTest.py:158-159.
- S9 GraphML sink → engine-native nodes/edges Parquet pair:
  lab3a nb (cell 5, json 143).

Engine-native interchange is Parquet (columnar, splittable, statistics
for pruning); CSV is the compatibility sink; the JSON stats sink is for
driver-sized aggregate payloads only (it collects — never point it at a
big table).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame


def write_parquet_checkpoint(df: DataFrame, path: str) -> None:
    """S15 engine-native checkpoint."""
    df.write.mode("overwrite").parquet(path)


def write_csv(df: DataFrame, path: str) -> None:
    """S15 compatibility sink (distributed; one file per partition)."""
    df.write.mode("overwrite").option("header", "true").csv(path)


def write_json_stats(df: DataFrame, path: str, max_rows: int = 10_000) -> dict:
    """S16 — collect a small aggregate result and dump it as one JSON
    document (list of row dicts), returning the payload. Guarded by
    ``max_rows`` so a mistakenly-large table fails loudly instead of
    OOMing the driver."""
    rows = df.limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        raise ValueError(f"write_json_stats: result exceeds {max_rows} rows — not a stats payload")
    payload = [r.asDict(recursive=True) for r in rows]
    with open(path, "w") as fh:
        json.dump(payload, fh, default=str)
    return {"rows": len(payload), "path": path}


def write_graph(nodes: DataFrame, edges: DataFrame, base_path: str) -> None:
    """S9 — canonical graph format: a nodes/edges Parquet pair."""
    nodes.write.mode("overwrite").parquet(f"{base_path}/nodes.parquet")
    edges.write.mode("overwrite").parquet(f"{base_path}/edges.parquet")


def write_html_report(
    tables: dict[str, DataFrame], path: str, title: str = "Report", max_rows: int = 1000
) -> str:
    """S17 — static HTML report sink (the reference's generate_stats_html
    / folium-page shape, 实习一/stat_html.py:8): each named DataFrame —
    expected to be a small AGGREGATE, enforced by ``max_rows`` —
    renders as a section with an HTML table. Returns the path.

    Presentation stays at the edge: the engine side of every report is
    the aggregate query; this sink only formats collected rows (and
    escapes them), so nothing O(input) ever reaches it."""
    import html as _html

    parts = [
        "<!DOCTYPE html><html><head><meta charset='utf-8'>",
        f"<title>{_html.escape(title)}</title>",
        "<style>table{border-collapse:collapse}td,th{border:1px solid #999;"
        "padding:4px 8px;font:13px monospace}h2{font-family:sans-serif}</style>",
        f"</head><body><h1>{_html.escape(title)}</h1>",
    ]
    for name, df in tables.items():
        rows = df.limit(max_rows + 1).collect()
        if len(rows) > max_rows:
            raise ValueError(
                f"report table {name!r} exceeds max_rows={max_rows}; "
                "aggregate before reporting"
            )
        parts.append(f"<h2>{_html.escape(name)}</h2><table><tr>")
        parts.extend(f"<th>{_html.escape(c)}</th>" for c in df.columns)
        parts.append("</tr>")
        for r in rows:
            parts.append("<tr>")
            parts.extend(f"<td>{_html.escape(str(r[c]))}</td>" for c in df.columns)
            parts.append("</tr>")
        parts.append("</table>")
    parts.append("</body></html>")
    with open(path, "w") as fh:
        fh.write("".join(parts))
    return path
