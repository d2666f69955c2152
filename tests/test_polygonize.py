"""Polygonize (raster -> vector regions) vs an independent BFS oracle."""

import numpy as np
import pytest

from ukis_pysat_spark import codec, datagen
from ukis_pysat_spark.operators import polygonize, transforms
from tests.conftest import images_pdf


def _bfs_regions(plane, nodata):
    """Flood-fill oracle: {min_flat_idx: (value, n, r0, c0, r1, c1)}."""
    h, w = plane.shape
    seen = np.zeros((h, w), bool)
    out = {}
    for r in range(h):
        for c in range(w):
            if seen[r, c]:
                continue
            stack = [(r, c)]
            seen[r, c] = True
            mem = []
            while stack:
                y, x = stack.pop()
                mem.append((y, x))
                for dy, dx in ((1, 0), (-1, 0), (0, 1), (0, -1)):
                    yy, xx = y + dy, x + dx
                    if (
                        0 <= yy < h
                        and 0 <= xx < w
                        and not seen[yy, xx]
                        and plane[yy, xx] == plane[r, c]
                    ):
                        seen[yy, xx] = True
                        stack.append((yy, xx))
            if nodata is not None and plane[r, c] == nodata:
                continue
            rid = min(y * w + x for y, x in mem)
            ys = [y for y, _ in mem]
            xs = [x for _, x in mem]
            out[rid] = (
                float(plane[r, c]),
                len(mem),
                min(ys),
                min(xs),
                max(ys),
                max(xs),
            )
    return out


def test_polygonize_matches_bfs(spark):
    """Quantized mixed-profile rasters: every region's id, value, count
    and bbox matches the flood-fill oracle; nodata regions dropped."""
    imgs = datagen.gen_images(spark, 10, profile="mixed")
    # quantize so regions are non-trivial (raw pixels are near-unique)
    q = transforms.apply_transforms(
        imgs,
        [transforms.pixel_math(lambda a: np.floor(a.astype("float64") / 400.0))],
        out_fmt="raw",
    )
    rows = polygonize.polygonize(q, band=0).collect()
    got = {
        (r["image_id"], r["region_id"]): (
            r["value"],
            r["n_pixels"],
            r["r0"],
            r["c0"],
            r["r1"],
            r["c1"],
        )
        for r in rows
    }
    pdf = images_pdf(np.arange(10), profile="mixed")
    n_regions = 0
    for _, img in pdf.iterrows():
        plane = np.floor(
            codec.decode(img["bytes"]).astype(np.float64)[0] / 400.0
        )
        # nodata 0 quantizes to 0.0
        exp = _bfs_regions(plane, 0.0 if img["nodata"] is not None else None)
        for rid, tup in exp.items():
            assert got[(img["image_id"], rid)] == tup
            n_regions += 1
        # no extra regions for this image
        assert sum(1 for k in got if k[0] == img["image_id"]) == len(exp)
    assert n_regions > 20


def test_polygonize_fixture_and_geo_bbox(spark):
    """Hand-drawn plane: diagonal pixels are NOT connected (4-conn),
    region ids are min flat indexes, geo bbox follows the transform."""
    p = np.array(
        [
            [1, 1, 0, 2],
            [0, 1, 2, 0],
            [0, 1, 1, 0],
            [2, 0, 1, 1],
        ],
        dtype=np.float64,
    )
    img = spark.createDataFrame(
        [
            (
                "f0",
                bytearray(codec.encode(p[None, :, :], "raw")),
                [0.5, 0.0, 10.0, 0.0, -0.5, 20.0],
                None,
            )
        ],
        "image_id string, bytes binary, transform array<double>, nodata double",
    )
    rows = {r["region_id"]: r for r in polygonize.polygonize(img).collect()}
    # the big 1-region: pixels (0,0),(0,1),(1,1),(2,1),(2,2),(3,2),(3,3)
    big = rows[0]
    assert big["value"] == 1.0 and big["n_pixels"] == 7
    assert (big["r0"], big["c0"], big["r1"], big["c1"]) == (0, 0, 3, 3)
    assert (big["left"], big["top"], big["right"], big["bottom"]) == (
        10.0,
        20.0,
        12.0,
        18.0,
    )
    # the 2 at (0,3) and the 2 at (1,2) touch only diagonally: separate
    assert rows[3]["value"] == 2.0 and rows[3]["n_pixels"] == 1
    assert rows[6]["value"] == 2.0 and rows[6]["n_pixels"] == 1
    assert rows[12]["value"] == 2.0 and rows[12]["n_pixels"] == 1
    # zeros: (0,2) isolated; (1,0),(2,0) vertical pair; (1,3),(2,3) pair; (3,1)
    assert rows[2]["n_pixels"] == 1 and rows[2]["value"] == 0.0
    assert rows[4]["n_pixels"] == 2
    assert rows[7]["n_pixels"] == 2
    assert rows[13]["n_pixels"] == 1
    assert len(rows) == 8


def test_polygonize_nodata_dropped(spark):
    p = np.zeros((1, 3, 3), dtype=np.float64)
    p[0, 1, 1] = 5.0
    img = spark.createDataFrame(
        [
            (
                "n0",
                bytearray(codec.encode(p, "raw")),
                [1.0, 0.0, 0.0, 0.0, -1.0, 3.0],
                0.0,
            )
        ],
        "image_id string, bytes binary, transform array<double>, nodata double",
    )
    rows = polygonize.polygonize(img).collect()
    assert len(rows) == 1
    assert rows[0]["value"] == 5.0 and rows[0]["n_pixels"] == 1
    assert rows[0]["region_id"] == 4


def test_polygonize_quantize_equals_pixel_math_chain(spark):
    """The in-stage quantize path is row-identical to composing
    pixel_math(floor(a/q)) -> polygonize."""
    imgs = datagen.gen_images(spark, 8, profile="mixed")
    chained = transforms.apply_transforms(
        imgs,
        [transforms.pixel_math(lambda a: np.floor(a.astype("float64") / 400.0))],
        out_fmt="raw",
    )
    a = sorted(map(tuple, polygonize.polygonize(chained, band=0).collect()))
    b = sorted(map(tuple, polygonize.polygonize(imgs, band=0, quantize=400.0).collect()))
    assert a == b and len(a) > 10


def test_polygonize_grid_equals_single_image(spark):
    """Distributed cross-tile polygonize over mosaic tiles is
    ROW-IDENTICAL (including canonical region ids) to single-image
    polygonize over the assembled grid — regions spanning tile
    boundaries merge through the connected-components stitch."""
    from tests.test_mosaic import _overlap_corpus
    from ukis_pysat_spark.operators import mosaic

    imgs, _recs = _overlap_corpus(spark)
    gt = [0.07, 0.0, 5.2, 0.0, -0.07, 8.1]
    gw, gh, tile = 37, 29, 16
    tiles = mosaic.composite(imgs, gt, gw, gh, tile=tile, method="count")
    got = sorted(
        (
            r["region_id"],
            r["value"],
            r["n_pixels"],
            r["r0"],
            r["c0"],
            r["r1"],
            r["c1"],
            r["left"],
            r["top"],
            r["right"],
            r["bottom"],
        )
        for r in polygonize.polygonize_grid(tiles, gt, gw, tile=tile).collect()
    )

    # assemble the same grid into ONE image row
    full = np.zeros((gh, gw))
    tile_rows = tiles.collect()
    for t in tile_rows:
        c0, r0 = t["tx"] * tile, t["ty"] * tile
        full[r0 : r0 + t["h"], c0 : c0 + t["w"]] = codec.decode(t["bytes"])[0]
    single_df = spark.createDataFrame(
        [
            (
                "full",
                bytearray(codec.encode(full[None, :, :], "raw")),
                [float(v) for v in gt],
                0.0,
            )
        ],
        "image_id string, bytes binary, transform array<double>, nodata double",
    )
    exp = sorted(
        (
            r["region_id"],
            r["value"],
            r["n_pixels"],
            r["r0"],
            r["c0"],
            r["r1"],
            r["c1"],
            r["left"],
            r["top"],
            r["right"],
            r["bottom"],
        )
        for r in polygonize.polygonize(single_df).collect()
    )
    assert got == exp
    assert len(got) > 5
    # the corpus genuinely exercises cross-tile merges: at least one
    # region's bbox spans a tile boundary
    assert any(r[3] // tile != r[5] // tile or r[4] // tile != r[6] // tile for r in got)


def test_label_regions_kernel_random_and_spiral():
    """Pure-kernel differential: label_regions vs BFS flood fill on
    random small planes and a serpentine spiral (the worst case for
    run-propagation convergence).  No Spark involved."""
    rng = np.random.default_rng(0)

    def bfs(p):
        h, w = p.shape
        lab = -np.ones((h, w), np.int64)
        for r in range(h):
            for c in range(w):
                if lab[r, c] >= 0:
                    continue
                stack, mem = [(r, c)], []
                lab[r, c] = 1
                while stack:
                    y, x = stack.pop()
                    mem.append((y, x))
                    for dy, dx in ((1, 0), (-1, 0), (0, 1), (0, -1)):
                        yy, xx = y + dy, x + dx
                        if (
                            0 <= yy < h and 0 <= xx < w
                            and lab[yy, xx] < 0
                            and p[yy, xx] == p[r, c]
                        ):
                            lab[yy, xx] = 1
                            stack.append((yy, xx))
                m = min(y * w + x for y, x in mem)
                for y, x in mem:
                    lab[y, x] = m
        return lab

    for _ in range(25):
        h, w = int(rng.integers(1, 24)), int(rng.integers(1, 24))
        p = rng.integers(0, 3, size=(h, w)).astype(float)
        np.testing.assert_array_equal(polygonize.label_regions(p), bfs(p))

    s = np.zeros((15, 15))
    r, c, dr, dc = 7, 7, 0, 1
    for step in [1, 1, 2, 2, 3, 3, 4, 4, 5, 5, 6, 6, 7]:
        for _ in range(step):
            s[r, c] = 1
            r += dr
            c += dc
        dr, dc = dc, -dr
    np.testing.assert_array_equal(polygonize.label_regions(s), bfs(s))
