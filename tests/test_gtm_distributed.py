"""GTM waypoints decoded on the executors match the driver parse on a
synthetic GPS TrackMaker file: header strings, a map image entry and
length-chained waypoint records with comments of varying length."""

import struct

import numpy as np

from gdal_spark.sources import formats as FMT


def _gtm(path, waypoints):
    head = bytearray(99)
    struct.pack_into("<i", head, 35, len(waypoints))
    struct.pack_into("<i", head, 63, 1)                 # one map image
    body = b"".join(struct.pack("<H", len(s)) + s
                    for s in (b"GPS TrackMaker", b"", b"font", b"note"))
    body += bytes(58)                                   # datum block
    body += struct.pack("<H", 7) + b"map.jpg" + struct.pack("<H", 0) \
        + bytes(30)
    for lat, lon, name, comment, icon, date in waypoints:
        body += (struct.pack("<2d", lat, lon) + name.ljust(10).encode()
                 + struct.pack("<H", len(comment)) + comment.encode()
                 + struct.pack("<H", icon) + b"\0"
                 + struct.pack("<i", date) + bytes(8))
    path.write_bytes(bytes(head) + body)
    return str(path)


def test_gtm_distributed_matches_driver_parse(spark, tmp_path):
    rng = np.random.default_rng(7)
    wpts = [(float(rng.uniform(-60, 60)), float(rng.uniform(-170, 170)),
             f"WP{i:03d}", "c" * int(rng.integers(0, 40)), i % 5,
             0 if i % 4 == 0 else 500000000 + i)
            for i in range(37)]
    p = _gtm(tmp_path / "synthetic.gtm", wpts)
    a = FMT.read_gtm(spark, p, "waypoints").orderBy("fid").collect()
    b = FMT.read_gtm_distributed(spark, p, batch=8).orderBy("fid").collect()
    assert len(a) == len(b) == 37
    assert [tuple(x) for x in a] == [tuple(y) for y in b]
    assert [r["name"] for r in b] == [w[2] for w in wpts]
