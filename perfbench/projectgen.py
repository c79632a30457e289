"""Seeded dbt project in the reference's shape, for the DAG-build workload.

Layers, each reading the one below it:

* scalar UDFs (``function``): BigQuery-dialect ``SAFE.PARSE_DATETIME``
  fallback chains over the reference's five datetime formats, in a
  seeded order; a third of them wrap another UDF;
* parameterized TVFs (``table_function``) over ``test_table``, filtering
  on the ``kind`` parameter; half of them add a surrogate key from the
  ``compat_utils`` macro package;
* datamart ``table`` models calling a TVF with an event type;
* datamart ``view`` models rolling a table up per day with the
  ``safe_divide`` macro.

The formats are mutually exclusive, so every UDF maps the reference's
golden vector the same way, and each datamart model's row count follows
from the ``events`` table alone.
"""

from __future__ import annotations

import os
import random

FORMATS = (
    "%Y/%m/%d %H:%M:%S",
    "%Y/%m/%d",
    "%Y-%m-%d %H:%M:%S",
    "%Y-%m-%d",
    "%Y-%m-%dT%H:%M:%E*SZ",
)
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
TAG = "perfbench"

_PROJECT_YML = f"""\
name: perfbench_dag
model-paths: ["models"]
models:
  perfbench_dag:
    +tags: {TAG}
    datamart:
      +schema: datamart
      +materialized: table
    udf:
      +schema: udf
      function:
        +materialized: function
      table_function:
        +materialized: table_function
"""


def _udf_body(rng: random.Random) -> str:
    fmts = list(FORMATS)
    rng.shuffle(fmts)
    branches = [f"  SAFE.PARSE_DATETIME('{f}', timestamp_expression)" for f in fmts]
    branches.append("  PARSE_DATETIME('%Y/%m/%d %H:%M:%S', timestamp_expression)")
    return "COALESCE(\n" + ",\n".join(branches) + "\n)\n"


_UDF_CONFIG = (
    "{{ config(params=['timestamp_expression STRING'], return_type='DATETIME') }}\n"
)


def write_project(
    seed: int,
    out_dir: str,
    package_dir: str,
    n_udfs: int,
    n_tvfs: int,
    n_tables: int,
    n_views: int,
) -> dict:
    """Write the project under ``out_dir``; return its manifest:
    ``{"udfs": [...], "tables": {name: kind}, "views": {name: kind},
    "models": [...]}`` where ``kind`` is the event type a datamart model
    selects."""
    rng = random.Random(seed)

    def put(rel: str, text: str) -> None:
        path = os.path.join(out_dir, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            fh.write(text)

    put("dbt_project.yml", _PROJECT_YML)
    put("packages.yml", f"packages:\n  - local: {package_dir}\n")

    n_base = max(1, n_udfs - n_udfs // 3)
    udfs = [f"pdt_{i:03d}" for i in range(n_udfs)]
    for i, name in enumerate(udfs):
        if i < n_base:
            body = _udf_body(rng)
        else:
            inner = udfs[rng.randrange(n_base)]
            body = f"{{{{ ref('{inner}') }}}}(TRIM(timestamp_expression))\n"
        put(f"models/udf/function/{name}.sql", _UDF_CONFIG + body)

    tvfs = [f"rows_{i:03d}" for i in range(n_tvfs)]
    for i, name in enumerate(tvfs):
        udf = rng.choice(udfs)
        key = (
            ",\n  {{ compat_utils.surrogate_key(['id', 'column1']) }} AS sk"
            if i % 2
            else ""
        )
        put(
            f"models/udf/table_function/{name}.sql",
            "{{ config(params=['kind STRING']) }}\n"
            "SELECT\n"
            "  CAST(column1 AS INT64) AS column1,\n"
            f"  {{{{ ref('{udf}') }}}}(column2) AS datetime{key}\n"
            "FROM {{ source('joshua_dataset', 'test_table') }}\n"
            "WHERE id = kind\n",
        )

    tables: dict[str, str] = {}
    for i in range(n_tables):
        name, kind = f"mart_{i:03d}", rng.choice(EVENT_TYPES)
        tables[name] = kind
        put(
            f"models/datamart/{name}.sql",
            "SELECT column1, datetime\n"
            f"FROM {{{{ ref('{rng.choice(tvfs)}') }}}}('{kind}')\n",
        )

    views: dict[str, str] = {}
    for i in range(n_views):
        name, table = f"daily_{i:03d}", rng.choice(sorted(tables))
        views[name] = tables[table]
        put(
            f"models/datamart/{name}.sql",
            "{{ config(materialized='view') }}\n"
            "SELECT CAST(datetime AS DATE) AS day,\n"
            "       COUNT(*) AS n,\n"
            "       {{ safe_divide('SUM(column1)', 'COUNT(*)') }} AS mean_id\n"
            f"FROM {{{{ ref('{table}') }}}}\n"
            "GROUP BY CAST(datetime AS DATE)\n",
        )
    return {
        "udfs": udfs,
        "tables": tables,
        "views": views,
        "models": udfs + tvfs + sorted(tables) + sorted(views),
    }
