"""Soak-fuzz the avro header and block parsers with a watchdog — the
widened version of the hypothesis fuzz tests (20k+ examples instead of
150) that found the negative-metadata-length infinite loop fixed in
_parse_header.take().  Deterministic (seeded); exits nonzero on any
hang (>2 s on a <=300-byte input) or non-clean exception type.

Usage: python scripts/avro_fuzz_soak.py [n_examples] (default 20000)
"""

from __future__ import annotations

import os
import random
import signal
import sys
import tempfile
import zlib

import _measure  # noqa: F401  (repo root on sys.path)

from yet_another_map_reduce_spark.sources import avro_format

ALLOWED = (ValueError, IndexError, KeyError, UnicodeDecodeError,
           AttributeError, TypeError, OverflowError, zlib.error)


class Hang(Exception):
    pass


def main() -> None:
    if len(sys.argv) > 1 and not sys.argv[1].isdigit():
        sys.exit("usage: avro_fuzz_soak.py [n_examples]")
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000
    random.seed(0xA7F0)
    d = tempfile.mkdtemp(prefix="avro_soak_")
    p = os.path.join(d, "f.avro")
    signal.signal(
        signal.SIGALRM, lambda s, f: (_ for _ in ()).throw(Hang())
    )

    # a small valid container to corrupt for the block-parser half
    schema = {
        "type": "record",
        "name": "s",
        "fields": [
            {"name": "a", "type": "long"},
            {"name": "t", "type": ["null", "string"]},
            {"name": "d", "type": "double"},
        ],
    }
    valid = os.path.join(d, "valid.avro")
    avro_format.write_container(
        valid, [(i, f"x{i}" if i % 3 else None, i * 0.5) for i in range(64)],
        schema, codec="null", block_rows=8,
    )
    base = open(valid, "rb").read()
    _, _, _, data_pos = avro_format.read_header(valid)

    bad = hangs = 0
    for i in range(n):
        if i % 2 == 0:  # header half: magic + garbage
            blob = bytes(
                random.randrange(256) for _ in range(random.randrange(0, 300))
            )
            payload = b"Obj\x01" + blob
        else:  # block half: flip one data byte or truncate
            off = data_pos + random.randrange(max(1, len(base) - data_pos))
            if random.random() < 0.5:
                payload = base[: off + 1]
            else:
                payload = (
                    base[:off]
                    + bytes([base[off] ^ random.randrange(1, 256)])
                    + base[off + 1 :]
                )
        with open(p, "wb") as fh:
            fh.write(payload)
        signal.alarm(2)
        try:
            list(avro_format.read_container(p))
        except Hang:
            hangs += 1
            print(f"HANG example {i}: {payload[:80].hex()}...")
        except ALLOWED:
            pass
        except Exception as exc:  # noqa: BLE001
            bad += 1
            print(f"UNEXPECTED {type(exc).__name__} example {i}: {exc}")
        finally:
            signal.alarm(0)
    print(f"{n} examples: {hangs} hangs, {bad} unexpected exception types")
    sys.exit(1 if hangs or bad else 0)


if __name__ == "__main__":
    main()
