"""Source connectors — the reference's ingest surfaces re-expressed.

SURVEY.md §2.1: S1 (HTTP insert params), S2 (CLI args), S3 (6-sheet Excel
fixture), S4 (embedding cache), S5 (scroll scan). Parquet collections make S4
moot (the embedding column IS the cache); the rest map to explicit readers
here. All readers take explicit schemas — no inferSchema in the scan path.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

INSERT_SCHEMA = (
    "id long, text_id long, text string, user_id long, site string, lang string"
)


def read_insert_requests(spark: SparkSession, rows: list[dict]) -> DataFrame:
    """S1/S2: a batch of insert requests (HTTP params / CLI args,
    /root/reference/app.py:36-43, insert.py:87-98) as a typed DataFrame.
    The length-equality assertion of insert.py:32 holds by construction —
    one row carries all fields. The batch is a JVM local relation
    (``session.local_df``), so the actions over it never run a Python
    worker just to decode the rows."""
    from vectordb_cloud_spark.session import local_df

    return local_df(
        spark,
        [
            (
                int(r["id"]),
                int(r.get("text_id", r["id"])),
                str(r["text"]),
                int(r["user_id"]),
                str(r.get("site", "")),
                str(r.get("lang", "")),
            )
            for r in rows
        ],
        INSERT_SCHEMA,
    )


_XLSX_NS = {
    "m": "http://schemas.openxmlformats.org/spreadsheetml/2006/main",
    "rel": "http://schemas.openxmlformats.org/package/2006/relationships",
}
_XLSX_RID = "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}id"
_XLSX_T = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}t"


def _xlsx_col_index(ref: str) -> int:
    """'A1' -> 0, 'AB7' -> 27 (base-26 column letters)."""
    import re

    letters = re.match(r"([A-Z]+)", ref).group(1)
    idx = 0
    for ch in letters:
        idx = idx * 26 + (ord(ch) - ord("A") + 1)
    return idx - 1


def read_xlsx(path: str) -> dict[str, list[list]]:
    """Dependency-free XLSX parser (stdlib zipfile + ElementTree).

    XLSX is a zip of XML parts; this reads xl/workbook.xml (sheet names),
    the workbook rels (sheet targets), xl/sharedStrings.xml, and each
    worksheet's sparse cell grid into dense python rows. Handles shared
    strings (t="s"), inline strings (t="inlineStr"), formula-cached strings
    (t="str"), booleans, and numbers; date styling is out of scope (the
    reference fixture carries only ids + text, test_qdrant.py:16-26).
    Fixtures are driver-side small by definition — parallelize AFTER
    parsing via spark.createDataFrame.
    """
    import xml.etree.ElementTree as ET
    import zipfile

    z = zipfile.ZipFile(path)
    shared: list[str] = []
    if "xl/sharedStrings.xml" in z.namelist():
        for si in ET.fromstring(z.read("xl/sharedStrings.xml")).findall("m:si", _XLSX_NS):
            shared.append("".join(t.text or "" for t in si.iter(_XLSX_T)))
    rels = {
        rel.get("Id"): rel.get("Target")
        for rel in ET.fromstring(z.read("xl/_rels/workbook.xml.rels"))
    }
    out: dict[str, list[list]] = {}
    wb = ET.fromstring(z.read("xl/workbook.xml"))
    for sh in wb.find("m:sheets", _XLSX_NS).findall("m:sheet", _XLSX_NS):
        target = rels[sh.get(_XLSX_RID)].lstrip("/")
        if not target.startswith("xl/"):
            target = "xl/" + target
        grid: list[list] = []
        for row in ET.fromstring(z.read(target)).iter(
            "{%s}row" % _XLSX_NS["m"]
        ):
            cells: list = []
            for c in row:
                ref, ctype = c.get("r"), c.get("t", "n")
                idx = _xlsx_col_index(ref) if ref else len(cells)
                while len(cells) <= idx:  # sparse grid -> dense row
                    cells.append(None)
                v = c.find("m:v", _XLSX_NS)
                if ctype == "s":
                    cells[idx] = shared[int(v.text)] if v is not None else None
                elif ctype == "inlineStr":
                    is_el = c.find("m:is", _XLSX_NS)
                    cells[idx] = "".join(t.text or "" for t in is_el.iter(_XLSX_T)) if is_el is not None else None
                elif ctype == "str":
                    cells[idx] = v.text if v is not None else None
                elif ctype == "b":
                    cells[idx] = v is not None and v.text == "1"
                else:  # numeric
                    if v is not None and v.text is not None:
                        f = float(v.text)
                        cells[idx] = int(f) if f.is_integer() else f
            grid.append(cells)
        out[sh.get("name")] = grid
    return out


def read_excel_fixture(spark: SparkSession, path: str) -> dict[str, DataFrame]:
    """S3: the reference's 6-sheet xlsx fixture
    (/root/reference/test_qdrant.py:16-26): ``input_N`` sheets (id, str) and
    ``Queries_for_input_N`` sheets. Parsed by the dependency-free
    ``read_xlsx`` (the container has no openpyxl); first row is the header
    (pandas ``read_excel`` default), column types inferred per column
    (all-int -> long, numeric -> double, else string)."""
    out: dict[str, DataFrame] = {}
    for sheet, grid in read_xlsx(path).items():
        if not grid:
            continue
        header = [str(h) for h in grid[0]]
        width = len(header)
        rows = [(r + [None] * width)[:width] for r in grid[1:]]
        fields = []
        typed_cols = []
        for i, name in enumerate(header):
            col = [r[i] for r in rows]
            non_null = [v for v in col if v is not None]
            if non_null and all(isinstance(v, bool) for v in non_null):
                typ, cast = "boolean", bool
            elif non_null and all(isinstance(v, int) and not isinstance(v, bool) for v in non_null):
                typ, cast = "long", int
            elif non_null and all(isinstance(v, (int, float)) and not isinstance(v, bool) for v in non_null):
                typ, cast = "double", float
            else:
                typ, cast = "string", str
            fields.append(f"`{name}` {typ}")
            typed_cols.append([cast(v) if v is not None else None for v in col])
        data = list(zip(*typed_cols)) if typed_cols and rows else []
        out[sheet] = spark.createDataFrame(data, ", ".join(fields))
    return out


def read_csv_corpus(spark: SparkSession, path: str,
                    schema: str = "id long, str string") -> DataFrame:
    """CSV corpus with the fixture's (id, str) shape; explicit schema, no
    inference pass."""
    return spark.read.csv(path, header=True, schema=schema)


def read_jsonl_corpus(spark: SparkSession, path: str,
                      schema: str = INSERT_SCHEMA) -> DataFrame:
    return spark.read.schema(schema).json(path)


def scroll(points: DataFrame, user_id: int, with_vectors: bool = False,
           page_size: int | None = None, after_id=None,
           id_col: str = "id", order_by: str | None = None,
           after_key=None) -> DataFrame:
    """S5: the scroll scan done right (/root/reference/app.py:102-107
    truncates at 100k and ignores pagination; SURVEY.md documents the bug).

    Default is the full filtered scan (no artificial cap — Spark streams it).
    Keyset pagination (``page_size`` + ``after_id``) is provided for API
    compatibility: ORDER BY id LIMIT n WHERE id > after — each page is an
    independent pushed-down range scan, so pagination stays O(page) not
    O(offset).

    ``order_by`` (Qdrant scroll's order_by, 1.8+): pages walk
    ``(order_by, id)`` lexicographically — the id tiebreak makes the order
    total, so rows sharing an order key are never skipped or duplicated
    across pages. Resume with BOTH cursors: ``after_key`` (last page's
    last order value) + ``after_id``; the predicate
    ``k > ak OR (k = ak AND id > aid)`` still pushes to the scan.
    """
    df = points.filter(F.col("user_id") == F.lit(user_id))
    if not with_vectors and "embedding" in df.columns:
        df = df.drop("embedding")  # column pruning = with_vectors=False
    if page_size is not None:
        if order_by is not None:
            if after_key is not None:
                k, i = F.col(order_by), F.col(id_col)
                df = df.filter(
                    (k > F.lit(after_key))
                    | ((k == F.lit(after_key)) & (i > F.lit(after_id)))
                )
            df = df.orderBy(order_by, id_col).limit(page_size)
        else:
            if after_id is not None:
                df = df.filter(F.col(id_col) > F.lit(after_id))
            df = df.orderBy(id_col).limit(page_size)
    return df


def random_sample(points: DataFrame, n: int, seed: int = 42,
                  id_col: str = "id") -> DataFrame:
    """Qdrant's random-sampling query (``query: {"sample": "random"}``):
    return ``n`` points drawn uniformly-ish and DETERMINISTICALLY for a
    given seed — ordering by ``xxhash64(id, seed)`` is a seeded shuffle of
    the id space, and ``limit(n)`` over it compiles to
    TakeOrderedAndProject: per-partition top-n heaps, n rows to the driver,
    no full sort and no corpus shuffle. Changing the seed re-deals the
    sample; the same seed replays it exactly (the property tests and
    pipelines need that Qdrant's true randomness lacks)."""
    if n < 0:
        raise ValueError("n must be >= 0")
    h = F.xxhash64(F.col(id_col), F.lit(seed))
    return points.orderBy(h.asc(), F.col(id_col).asc()).limit(n)
