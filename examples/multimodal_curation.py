"""Image curation tour (r12): real decode, then the curation ops a
100-TB image corpus needs.

Every decoder here is REAL (``is_stub=false``) and dependency-free —
pure numpy + stdlib against the public format specs. A mixed-format
corpus (BMP + PNG + GIF + PackBits-TIFF + JPEG, 30 byte-distinct files
hiding 6 distinct pictures) runs ONE sniffing decode, gets exact
integer pixel stats, and perceptual pHash dedup recovers the 6
re-encode clusters that byte-digest dedup cannot see.

Usage: python examples/multimodal_curation.py
(the fixtures are self-contained binary corpora — no sf_dir needed)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def main() -> None:
    from llm_training_data_pipeline_spark.operators.dedup import media_exact_dedup
    from llm_training_data_pipeline_spark.operators.multimodal import (
        decode_image_pixels,
        image_near_dup_pairs,
        image_pixel_stats,
        synthetic_cross_format_assets,
    )
    from llm_training_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name="image-curation")

    # -- images: mixed containers, one decode, perceptual dedup --------
    images = synthetic_cross_format_assets(spark, n_base=6)
    px = decode_image_pixels(images)
    stats = image_pixel_stats(px)
    print(f"images: {images.count()} mixed-format files decode to "
          f"{stats.count()} pixel rows (one sniffing operator)")

    exact = media_exact_dedup(images)
    n_digests = exact.select("digest").distinct().count()
    pairs = image_near_dup_pairs(images)  # decode -> pHash -> band join
    # cluster roots: members that never lose an id_a < id_b comparison
    clusters = (
        pairs.select(F.col("id_a").alias("id"))
        .distinct()
        .join(
            pairs.select(F.col("id_b").alias("id")).distinct(),
            "id",
            "left_anti",
        )
        .count()
    )
    print(f"byte-digest dedup sees {n_digests} distinct files; "
          f"perceptual pHash finds {pairs.count()} near-dup pairs "
          f"({clusters} re-encode clusters byte hashing missed)")

    spark.stop()


if __name__ == "__main__":
    main()
