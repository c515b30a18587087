from lakehouse_tools_spark.functions.vectors import cosine_similarity, dot_product, l2_norm

__all__ = ["cosine_similarity", "dot_product", "l2_norm"]
