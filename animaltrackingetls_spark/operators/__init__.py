"""Relational and data-pipeline operators, one module each.

Import the module you need (``from animaltrackingetls_spark.operators
import dedup``); this package imports none of them itself, so loading
one operator does not load the other eighteen.

Modules: aggregates, dedup, geo, ivfpq, joins, layout, multimodal,
ordering, pq, privacy, profile, quality_model, retrieval, sampling,
similarity, textstats, validate, versioning, web.
"""
