"""Relational, enrichment and extraction operators; each module's ``REGISTRY``
feeds ``__spark_entry__.catalog()``."""
