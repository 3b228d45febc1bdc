"""Seeded input generation. Every input a workload sees is made here from
the ``--seed`` argument; the same seed gives byte-identical inputs.

Two families:

- batch tables with the schemas of FIXTURES.md §B (``documents``,
  ``embeddings``, ``lineitem``), shaped like those fixture tables: a
  30-token vocabulary, 10-100 token documents, ~5% near-duplicates (an
  earlier document plus ``" dup"``), unit-norm 64-d embeddings with
  labels 0-9;
- the BME680 sensor wire mix of FIXTURES.md §A: ~90% flat JSON objects,
  ~6% bare scalars, ~2% garbage, ~2% null values, temperatures on both
  sides of the 75 °F alert threshold.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = np.array([0.41, 0.15, 0.15, 0.15, 0.14])
DIM = 64
# the tables the curation queries and their oracles read
TABLES = ("documents", "embeddings", "lineitem")

ALERT_LIMIT = 75.0
ALERT_FORMAT = "Temperature warning %04.2f"


def documents(rng: np.random.Generator, n_docs: int) -> pa.Table:
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))]))
    ids = np.arange(n_docs, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": LANGS[rng.choice(len(LANGS), n_docs, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def embeddings(rng: np.random.Generator, n_vecs: int) -> pa.Table:
    labels = rng.integers(0, 10, n_vecs).astype(np.int32)
    centers = rng.normal(size=(10, DIM))
    vecs = centers[labels] * 0.6 + rng.normal(size=(n_vecs, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": labels,
        }
    )


def lineitem(rng: np.random.Generator, n_rows: int, n_orders: int) -> pa.Table:
    day0 = np.datetime64("1992-01-01")
    ship = day0 + rng.integers(0, 3600, n_rows).astype("timedelta64[D]")
    return pa.table(
        {
            "l_orderkey": rng.integers(0, n_orders, n_rows).astype(np.int64),
            "l_partkey": rng.integers(0, 20000, n_rows).astype(np.int64),
            "l_suppkey": rng.integers(0, 1000, n_rows).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_rows).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_rows).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_rows), 2),
            "l_discount": rng.integers(0, 11, n_rows) / 100.0,
            "l_tax": rng.integers(0, 9, n_rows) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_rows)],
            "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_rows)],
            "l_shipdate": pa.array(ship.astype("datetime64[us]")),
        }
    )


def write_tables(out_dir: str, seed: int, n_docs: int, n_vecs: int, n_lineitem: int) -> None:
    """Write each of TABLES as ``<out_dir>/<name>.parquet``."""
    rng = np.random.default_rng(seed)
    tables = {
        "documents": documents(rng, n_docs),
        "embeddings": embeddings(rng, n_vecs),
        "lineitem": lineitem(rng, n_lineitem, max(n_lineitem // 4, 100)),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name in TABLES:
        pq.write_table(tables[name], os.path.join(out_dir, f"{name}.parquet"))


# ----------------------------------------------------------------- sensors

_JSON_TEMPLATE = (
    '{{"key": "sensor-{sensor}", "value": "{{\\"uuid\\": \\"{uuid}\\", '
    '\\"host\\": \\"rpi-{sensor}\\", \\"cputemp\\": {cpu}, '
    '\\"bme680_tempf\\": \\"{tempf}\\", \\"bme680_humidity\\": \\"{hum}\\", '
    '\\"ltr559_lux\\": \\"006.87\\"}}"}}\n'
)


def sensor_lines(
    rng: np.random.Generator, n: int, first_seq: int
) -> tuple[list[str], list[str]]:
    """``n`` JSON-lines records of the (key, value) stream schema, and the
    alert payloads the reference pipeline must emit for them.

    Temperatures carry exactly two decimals, so ``%04.2f`` renders them
    identically in Java and Python."""
    kind = rng.choice(4, n, p=[0.90, 0.06, 0.02, 0.02])
    temps = rng.integers(6000, 9000, n) / 100.0
    sensors = rng.integers(0, 64, n)
    lines: list[str] = []
    alerts: list[str] = []
    for i in range(n):
        k, t, s = int(kind[i]), float(temps[i]), int(sensors[i])
        if k == 0:
            lines.append(
                _JSON_TEMPLATE.format(
                    sensor=s,
                    uuid=f"{first_seq + i:012d}",
                    cpu=40 + s % 20,
                    tempf=f"{t:.2f}",
                    hum=f"{20 + s % 50}.5",
                )
            )
        elif k == 1:
            lines.append(f'{{"key": "sensor-{s}", "value": " {t:.2f} "}}\n')
        elif k == 2:
            lines.append(f'{{"key": "sensor-{s}", "value": "n/a{first_seq + i}"}}\n')
        else:
            lines.append(f'{{"key": "sensor-{s}", "value": null}}\n')
        if k <= 1 and t > ALERT_LIMIT:
            alerts.append(ALERT_FORMAT % t)
    return lines, alerts

