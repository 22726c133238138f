"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of ``seed`` and the size arguments, so
the same seed always yields the same inputs.  The transcripts input is made
by the program's own generator (``discoverx_spark.transcripts``), because
its cost is part of the measured set-up; the DiscoverX tables are JVM
expressions over ``spark.range``; the documents table is built with numpy
and written with pyarrow, apart from Spark.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# documents (curate_documents): same shape as the project's testdata
# ``documents`` table -- (doc_id long, text string, lang string,
# source string, n_chars long), 10..100 words over a 30-word vocabulary.
# ---------------------------------------------------------------------------

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ("en", "de", "fr", "es", "zh")
LANG_P = (0.41, 0.14, 0.15, 0.15, 0.15)
N_SOURCES = 20
EXACT_DUP_FRAC = 0.05   # copies of an earlier document's text
NEAR_DUP_FRAC = 0.05    # an earlier document's text + " dup"


def documents_table(n_docs: int, seed: int) -> pa.Table:
    rng = np.random.RandomState(seed % (2**31 - 1))
    lens = rng.randint(10, 101, size=n_docs)
    words = rng.randint(0, len(VOCAB), size=int(lens.sum()))
    texts, pos = [], 0
    for n in lens:
        texts.append(" ".join(VOCAB[w] for w in words[pos:pos + n]))
        pos += n
    kind = rng.rand(n_docs)
    src = rng.randint(0, n_docs, size=n_docs)
    for i in range(1, n_docs):
        j = int(src[i]) % i
        if kind[i] < EXACT_DUP_FRAC:
            texts[i] = texts[j]
        elif kind[i] < EXACT_DUP_FRAC + NEAR_DUP_FRAC:
            texts[i] = texts[j] + " dup"
    lang = rng.choice(len(LANGS), size=n_docs, p=LANG_P)
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[k] for k in lang], pa.string()),
        "source": pa.array([f"src{i % N_SOURCES}" for i in range(n_docs)],
                           pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def write_documents(path: str, n_docs: int, seed: int) -> None:
    pq.write_table(documents_table(n_docs, seed), path)


# ---------------------------------------------------------------------------
# DiscoverX tables (classify_act): seeded PII columns as JVM expressions over
# spark.range, each with a Python twin of the same integer formula.  The
# seeded classes are exactly the columns listed in SEEDED_CLASSES.
# ---------------------------------------------------------------------------

DOMAINS = ("example", "mailhost", "corp-mail", "inbox", "northwind")
CLASSIFY_TABLES = ("crm.sales.customers", "web.logs.access")
SEEDED_CLASSES = {
    ("crm", "sales", "customers", "email", "email"),
    ("crm", "sales", "customers", "phone", "us_phone_number"),
    ("web", "logs", "access", "client_ip", "ip_v4"),
    ("web", "logs", "access", "visit_day", "iso_date"),
}
FREE_TEXT = ("crm.sales.customers", "notes")
WHATIF_CLASS = "ip_v4"
WHATIF_VALUES = 40  # the first client_ip values


def access_ip(i: int, seed: int) -> str:
    return (f"10.{(i * 7 + seed) % 256}.{(i * 13 + seed) % 256}."
            f"{(i * 17 + seed) % 254 + 1}")


def whatif_values(seed: int) -> list:
    return sorted({access_ip(i, seed) for i in range(WHATIF_VALUES)})


def whatif_expected(n_rows: int, seed: int) -> dict:
    """(table, column) -> rows whose ip_v4 column holds a what-if value,
    counted with the Python twin of the generating expression."""
    vals = set(whatif_values(seed))
    return {("web.logs.access", "client_ip"):
            sum(access_ip(i, seed) in vals for i in range(n_rows))}


def classify_frames(spark, n_rows: int, seed: int) -> dict:
    """{full table name: DataFrame} of JVM-generated columns."""
    from pyspark.sql import functions as F

    i = F.col("id")
    s = F.lit(seed)

    def mix(a, m, plus=0):
        return ((i * a + s) % m + plus).cast("string")

    dom = F.element_at(F.array(*[F.lit(d) for d in DOMAINS]),
                       ((i * 7 + s) % len(DOMAINS) + 1).cast("int"))
    email = F.concat(F.lit("user"), i.cast("string"), F.lit("."),
                     s.cast("string"), F.lit("@"), dom, F.lit(".com"))
    phone = F.when(i % 17 == 0, F.lit(None)).otherwise(F.format_string(
        "%03d-%03d-%04d", (i * 37 + s) % 800 + 200, (i * 11 + s) % 1000,
        (i * 13 + s) % 10000))
    ip = F.concat_ws(".", F.lit("10"), mix(7, 256), mix(13, 256),
                     mix(17, 254, 1))
    day = F.date_format(F.date_add(F.to_date(F.lit("2020-01-01")),
                                   ((i * 3 + s) % 1000).cast("int")),
                        "yyyy-MM-dd")
    notes = F.element_at(F.array(
        F.concat(F.lit("please email "), email, F.lit(" about ticket "),
                 i.cast("string")),
        F.concat(F.lit("server "), ip, F.lit(" rebooted on "), day),
        F.concat(F.lit("call me back at "),
                 F.coalesce(phone, F.lit("555-010-0000")),
                 F.lit(" tomorrow")),
        F.lit("the nightly job finished without errors"),
        F.concat(F.lit("see https://docs.example.com/t/"), i.cast("string"),
                 F.lit(" for details")),
        F.concat(F.lit("ticket "), i.cast("string"),
                 F.lit(" closed by customer_"), i.cast("string")),
    ), ((i * 7 + s) % 6 + 1).cast("int"))
    base = spark.range(n_rows)
    return {
        "crm.sales.customers": base.select(
            "id", email.alias("email"), phone.alias("phone"),
            notes.alias("notes")),
        "web.logs.access": base.select(
            "id", ip.alias("client_ip"), day.alias("visit_day")),
    }
