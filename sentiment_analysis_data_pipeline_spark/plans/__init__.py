from .pipeline import sentiment_enrich, documents_as_articles

__all__ = ["sentiment_enrich", "documents_as_articles"]
