"""Result canonicalization, the Python half of Canon.scala: values rendered
as tools/compare.py renders them, columns sorted by name, lines sorted by
UTF-8 bytes, SHA-256 over the lot. Both halves must agree byte for byte."""
import hashlib
import math


def norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.12g}"
    if hasattr(v, "isoformat"):
        return v.isoformat().replace("T", " ")
    if isinstance(v, list):
        return "[" + ",".join(norm(x) for x in v) + "]"
    return str(v)


def shape(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(("\x01".join(norm(r[i]) for i in order)).encode() for r in rows)
    h = hashlib.sha256("\x01".join(cols[i].lower() for i in order).encode())
    for line in lines:
        h.update(b"\n")
        h.update(line)
    return {"cols": [cols[i] for i in order], "rows": len(rows), "digest": h.hexdigest()}
