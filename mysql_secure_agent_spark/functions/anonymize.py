"""Column anonymization: Base64(SHA-1(salt ∥ value)) — SURVEY §2.2 P4.

The reference hashes configured columns during import with
``Hash.hash(config.cryptoSalt + valueToHash)`` — the salt is **prepended**
(``Updater.java:109-112``, ``hash/Hash.java:22-30``; the README's "append"
wording is contradicted by the code). Golden vectors from
``UpdaterSpec.java:183-202`` (salt ``"sodium chloride"``):

    "1" → "AnZXUjEr5i2a57kXUtI6dXftv+E="
    "2" → "jUdn9gOx372QFiYR9zRyZp0VQEw="

All JVM-side, codegen'd (``sha1``/``base64``/``concat`` built-ins) — no Python
in the hot path. NULL in → NULL out (concat propagates null).
"""

from __future__ import annotations

import base64
import hashlib

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, functions as F


def anonymize_col(col: Column | str, salt: str) -> Column:
    """base64(sha1_bytes(salt ∥ value)). Spark's ``sha1`` returns hex; unhex
    back to the 20 raw digest bytes before base64 to match the reference's
    ``Base64.encode(digest)`` (hash/Hash.java:27-29)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.base64(F.unhex(F.sha1(F.concat(F.lit(salt), c.cast("string")))))


def anonymize(df: DataFrame, columns: list[str], salt: str) -> DataFrame:
    """Hash the given columns in place (Updater.java:103-112 analog)."""
    out = df
    for c in columns:
        if c in df.columns:
            out = out.withColumn(c, anonymize_col(c, salt))
    return out


def anonymize_arrow(values: pa.ChunkedArray, salt: str) -> pa.Array:
    """``anonymize_col`` for an Arrow column in the driver: the same
    base64(SHA-1(salt ∥ value)) over the value's UTF-8 string, NULL in →
    NULL out."""
    prefix = salt.encode("utf-8")
    return pa.array(
        [
            None if v is None
            else base64.b64encode(hashlib.sha1(prefix + v.encode("utf-8")).digest()).decode()
            for v in pc.cast(values, pa.string()).to_pylist()
        ],
        pa.string(),
    )
