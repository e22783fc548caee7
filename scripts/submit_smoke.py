#!/usr/bin/env python
"""Cluster launch-path smoke: run the KG pipeline with kgc imported from
the --py-files zip only (the checkout root stripped from sys.path).

    scripts/package.sh && spark-submit --master 'local[8]' \
        --py-files dist/kgc.zip --conf spark.sql.shuffle.partitions=16 \
        scripts/submit_smoke.py

Prints one JSON line {"kgc_from": <zip path>, "triples": N}.  This is
the same submission shape a real multi-executor cluster uses (north
rule: spark-submit --py-files); only --master changes.  It also
regression-covers running the pipeline WITHOUT kgc.session.get_spark —
the session here is whatever spark-submit built.
"""

import json
import os
import sys

# kgc must come from the --py-files zip, not the checkout
_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path = [p for p in sys.path if p not in ("", _root)]

from pyspark.sql import SparkSession  # noqa: E402

spark = SparkSession.builder.getOrCreate()

import kgc  # noqa: E402
from kgc import pipeline, synth  # noqa: E402

assert "kgc.zip" in kgc.__file__, f"kgc not loaded from zip: {kgc.__file__}"

docs = synth.generate_documents(spark, n_docs=2000, n_parts=8)
stages = pipeline.run(spark, docs, max_tokens=60)
print(json.dumps({"kgc_from": kgc.__file__, "triples": stages["triples"].count()}))
pipeline.release(stages)
